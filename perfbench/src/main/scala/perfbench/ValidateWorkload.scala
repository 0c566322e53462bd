package perfbench

import java.io.File

import graft.Validator
import graft.checks._
import graft.compile.{ConstraintCompiler, ValidatorOptions}
import graft.data.TokenTable
import graft.pipeline.{PipelineConfig, ValidationPipeline}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `ValidationPipeline.run` with the standard check set over a generated
  * token table: greedy row constraints, salted uniqueness, Bloom
  * referential against the source dimension, KLL drift of `n_tok` against
  * a profile of another seed, and column stats. Each call gets a fresh
  * checkpoint and output directory and no violation cap. */
final class ValidateWorkload(spark: SparkSession, name: String,
                             cfg: TokenTable.Config, work: String,
                             perturb: Boolean) extends Workload {
  import Workload._

  private val dataDir = s"$work/data/$name-seed${cfg.seed}-rows${cfg.rows}"
  private val fpp = 0.001
  private val checkNames = Seq("row_constraint", "uniqueness", "referential_bloom",
    "drift_kll", "stats")

  private var input: DataFrame = _
  private var validator: Validator = _
  private var checks: Seq[Check] = Nil

  // expectations from plain Spark (see expect)
  private var rowsPerPart = Map.empty[Int, Long]
  private var expRowErrs = 0L
  private var expInvalidRows = 0L
  private var expDupRows = 0L
  private var expRefRows = 0L
  private var expStats = 0L
  private var tokensTotal = 0L

  def units: Long = cfg.rows
  // the first call takes about twice as long as later ones, the second 1.4 times
  def warmupCalls: Int = 2

  def prepare(): Unit = {
    materialize(TokenTable.generate(spark, cfg), dataDir, files = 16)
    input = spark.read.parquet(dataDir)
  }

  /** Each spec keyword as a count of failed instances per row, written
    * from the spec's text, not from graft's compiler: `required` for a
    * NULL column, else the `pattern`, `minItems`, per-item
    * `minimum`/`maximum`, `minimum` and `minLength` keywords. */
  private def rowErrors: Column = {
    val maxTok = cfg.vocabSize - 1
    val doc = when(col("doc_id").isNull, 1)
      .when(!col("doc_id").rlike("^doc-\\d{12}$"), 1).otherwise(0)
    val tok = when(col("tokens").isNull, 1).otherwise(
      when(size(col("tokens")) < 1, 1).otherwise(0) +
        size(filter(col("tokens"), t => t < 0 || t > maxTok)))
    val ntok = when(col("n_tok").isNull || col("n_tok") < 1, 1).otherwise(0)
    val src = when(col("source").isNull || length(col("source")) < 1, 1).otherwise(0)
    doc + tok + ntok + src
  }

  def expect(): Unit = {
    val active = TokenTable.vocabDim(spark, cfg).where(col("active"))
      .select("source").collect().map(_.getString(0)).toSeq
    val perPart = input
      .select(col("part"), rowErrors.as("e"), col("source"), col("tokens"),
        col("n_tok"), col("doc_id"))
      .groupBy(col("part"))
      .agg(count(lit(1)), sum(col("e")), sum(when(col("e") > 0, 1L).otherwise(0L)),
        sum(when(col("source").isin(active: _*), 0L).otherwise(1L)),
        sum(size(col("tokens")).cast("long")),
        min(col("n_tok")), sum(when(col("n_tok").isNull, 1L).otherwise(0L)),
        sum(when(col("doc_id").isNull, 1L).otherwise(0L)))
      .collect()
    rowsPerPart = perPart.map(r => r.getInt(0) -> r.getLong(1)).toMap
    expRowErrs = perPart.map(_.getLong(2)).sum
    expInvalidRows = perPart.map(_.getLong(3)).sum
    expRefRows = perPart.map(_.getLong(4)).sum
    tokensTotal = perPart.map(_.getLong(5)).sum
    // the stats assertions below: n_tok >= 1, doc_id null rate <= 0.5;
    // a failed assertion counts that column's NULLs
    expStats = perPart.map { r =>
      val rows = r.getLong(1)
      (if (!r.isNullAt(6) && r.getInt(6) < 1) r.getLong(7) else 0L) +
        (if (r.getLong(8).toDouble / rows > 0.5) r.getLong(8) else 0L)
    }.sum
    expDupRows = input.where(col("doc_id").isNotNull)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
      .where(col("c") > 1).agg(coalesce(sum(col("c")), lit(0L))).head().getLong(0)
  }

  def construct(): Unit = {
    validator = Validator(TokenTable.constraintSpec(cfg.vocabSize),
      ValidatorOptions(greedy = true))
    val profile = SketchDriftCheck.buildProfile(
      TokenTable.generate(spark, cfg.copy(rows = math.max(1000L, cfg.rows / 4),
        seed = cfg.seed + 1)), "n_tok")
    checks = Seq(
      RowConstraintCheck(validator),
      UniquenessCheck(),
      ReferentialBloomCheck("source", TokenTable.vocabDim(spark, cfg), "source",
        expectedKeys = cfg.numSources.toLong, fpp = fpp),
      SketchDriftCheck("n_tok", profile),
      StatsCheck(Seq(
        ColumnStatsSpec("n_tok", min = Some(1)),
        ColumnStatsSpec("doc_id", maxNullRate = Some(0.5)))))
  }

  def call(dir: String, t: Tracer): CallOut = {
    val (res, s) = time(t.span("pipeline.run") {
      new ValidationPipeline(checks,
        PipelineConfig(checkpointDir = s"$dir/ckpt", outputDir = s"$dir/out")).run(input)
    })
    CallOut(s, Map("pipeline.run_s" -> s,
      "pipeline.committed_parts" -> res.processedParts.size.toDouble))
  }

  private val expectedChecks = Set("row_count", "row_constraint", "uniqueness",
    "referential_bloom", "drift_kll_ks:n_tok", "stats:n_tok", "stats:doc_id")

  def verify(dir: String, out: CallOut): Either[String, Map[String, Double]] = {
    val parts = rowsPerPart.keySet
    val committed = Option(new File(s"$dir/ckpt/commits").list()).getOrElse(Array.empty[String])
      .count(f => f.startsWith("part=") && f.endsWith(".json"))
    val verdicts = spark.read.parquet(s"$dir/out/verdicts")
      .select(col("part").cast("int"), col("check"), col("violation_count"),
        col("metric_value"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
    def total(c: String) = verdicts.filter(_._2 == c).map(_._3).sum
    val keys = verdicts.map(v => (v._1, v._2))
    val rowCounts = verdicts.filter(_._2 == "row_count").map(v => v._1 -> v._4.toLong).toMap
    val wantRowErrs = expRowErrs + (if (perturb) 1 else 0)
    val vioRows = spark.read.parquet(s"$dir/out/violations").count()
    val vioFromVerdicts = total("row_constraint") + total("uniqueness") + total("referential_bloom")
    val ref = total("referential_bloom")
    val problems = Seq(
      (committed != parts.size) -> s"$committed parts committed, expected ${parts.size}",
      (out.facts("pipeline.committed_parts") != parts.size) ->
        s"run() processed ${out.facts("pipeline.committed_parts")} parts",
      (keys.distinct.length != keys.length) -> "more than one verdict row per (part, check)",
      (keys.toSet != (for (p <- parts; c <- expectedChecks) yield (p, c))) ->
        s"verdict rows ${keys.length}, expected one per (part, check) for ${parts.size} parts",
      (rowCounts != rowsPerPart) -> "row_count verdicts differ from the input's rows per part",
      (total("row_constraint") != wantRowErrs) ->
        s"row_constraint violations ${total("row_constraint")}, expected $wantRowErrs",
      (total("uniqueness") != expDupRows) ->
        s"uniqueness violations ${total("uniqueness")}, expected $expDupRows",
      (ref > expRefRows || expRefRows - ref > math.ceil(fpp * expRefRows)) ->
        s"referential_bloom violations $ref, expected $expRefRows less at most fpp=$fpp",
      (total("stats:n_tok") + total("stats:doc_id") != expStats) ->
        s"stats violations ${total("stats:n_tok") + total("stats:doc_id")}, expected $expStats",
      (vioRows != vioFromVerdicts) ->
        s"$vioRows violation rows written, verdicts count $vioFromVerdicts")
    problems.collectFirst { case (true, why) => why }
      .toLeft(Map("checks.violation_rows" -> vioRows.toDouble))
  }

  def properties: Seq[(String, Any)] = Seq(
    "rows" -> cfg.rows, "parts" -> cfg.parts, "max_len" -> cfg.maxLen,
    "oob_per_mille" -> cfg.oobPerMille, "mismatch_per_mille" -> cfg.mismatchPerMille,
    "dup_per_mille" -> cfg.dupPerMille,
    "unknown_source_per_mille" -> cfg.unknownSourcePerMille,
    "invalid_row_share" -> expInvalidRows.toDouble / cfg.rows,
    "referential_violation_share" -> expRefRows.toDouble / cfg.rows,
    "duplicate_key_row_share" -> expDupRows.toDouble / cfg.rows,
    "mean_tokens_per_row" -> tokensTotal.toDouble / cfg.rows,
    "expected_row_constraint_violations" -> expRowErrs)

  def layers(t: Tracer): Map[String, Double] = {
    def timed(n: String)(f: => Any): Double = time(t.span(n)(f))._2
    val m = Map.newBuilder[String, Double]
    m += "scan.tokens_s" -> timed("scan.tokens")(input.agg(sum(size(col("tokens")))).head())
    m += "scan.ntok_s" -> timed("scan.ntok")(input.agg(sum(col("n_tok"))).head())
    val (compiled, specS) = time(t.span("compile.spec")(
      ConstraintCompiler.compile(validator.spec, input.schema, validator.options)))
    m += "compile.spec_s" -> specS
    var invalid = 0L
    m += "compile.valid_s" -> timed("compile.valid") {
      invalid = input.where(!compiled.valid).count()
    }
    m += "compile.invalid_rows" -> invalid.toDouble
    m += "compile.errors_s" -> timed("compile.errors")(
      input.agg(sum(size(compiled.errors))).head())
    val parts = rowsPerPart.keys.toSeq.sorted
    checks.zip(checkNames).foreach { case (c, n) =>
      m += s"checks.${n}_s" -> timed(s"checks.$n") {
        val r = c.withKnownParts(parts).run(input)
        noop(r.violations)
        noop(r.verdicts)
      }
    }
    m.result()
  }
}
