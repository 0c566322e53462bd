package graft.checks

import graft.Validator
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Row-level constraint validation as a table check: the direct analog of
  * running `validate(data)` over every instance
  * (/root/reference/lib/jsen.js:1069-1073), with verdicts aggregated per
  * partition.
  *
  * Scale notes: the validator is a pure projection (narrow, whole-stage
  * codegen, zero shuffle); the verdict aggregation shuffles only
  * `(part, valid-count, violation-count)` partials — bytes per partition,
  * not per row. The spec compiles once per evaluation, shared by the
  * violation array and the aggregates; the error path runs only for
  * invalid rows.
  */
final case class RowConstraintCheck(
    validator: Validator,
    partCol: String = Check.PartCol,
    idCol: String = Check.IdCol) extends RowLocalCheck {

  val name = "row_constraint"

  def plan(df: DataFrame): RowLocalPlan = {
    val c = graft.compile.ConstraintCompiler.compile(validator.spec, df.schema, validator.options)
    RowLocalPlan(
      violations = Some(col(idCol) -> c.errors),
      aggregates = Seq(
        "passed" -> bool_and(c.valid),
        "violations" -> sum(when(c.valid, lit(0L)).otherwise(size(c.errors).cast("long"))),
        "valid_rate" -> avg(c.valid.cast(DoubleType))),
      verdicts = agg => Seq(Check.verdict(name, agg("passed"), agg("violations"),
        agg("valid_rate"))))
  }
}
