package perfbench

import graft.ops.{Curation, Dedup, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `Curation.curate` with near-dedup at threshold 0.7 over a planted
  * corpus whose survivors are known in closed form (the corpus of
  * `graft.CurateScaleBench` without its degenerate 120k-line document,
  * whose skew guard that bench already covers):
  *
  *  - 80%  base docs, 30 hash-vocabulary words plus a shared banner line;
  *  - 10%  exact clones of the first bases, removed by exact dedup;
  *  - 5%   near clones (one word of 30 changed), removed by near dedup,
  *         which is probabilistic: at least 99% recall is required;
  *  - 2.5% docs with a unique e-mail address, redacted and kept;
  *  - 2.5% junk docs below the quality floor, dropped.
  *
  * The seed enters every word hash. The output is written to parquet. */
final class CurateWorkload(spark: SparkSession, n: Long, seed: Long, work: String,
                           perturb: Boolean) extends Workload {
  import Workload._

  require(n % 40 == 0 && n >= 4000, s"doc count $n must be divisible by 40 and >= 4000")
  private val nBase = n * 16 / 20
  private val nExact = n * 2 / 20
  private val nNear = n / 20
  private val nPii = n / 40
  private val nJunk = n / 40
  private val Banner = "Subscribe to our newsletter for updates"
  private val dataDir = s"$work/data/curate-seed$seed-docs$n"
  private val threshold = 0.7

  private var docs: DataFrame = _
  private var cfg: Curation.CurationConfig = _
  private var mix = Seq.empty[(String, Any)]

  def units: Long = n
  // a second warm-up call did not steady the figures, and costs 10 s a run
  def warmupCalls: Int = 1

  private def corpus: DataFrame = {
    def wordsOf(baseId: Column, count: Int, perturb: Boolean) = {
      val w = transform(sequence(lit(0), lit(count - 1)), j =>
        concat(lit("w"), pmod(xxhash64(baseId, j, lit(seed)), lit(50000000L))))
      if (perturb) concat_ws(" ", transform(w, (x, j) => when(j === 17, lit("zzz")).otherwise(x)))
      else concat_ws(" ", w)
    }
    def withBanner(line1: Column) = concat(line1, lit("\n" + Banner))
    spark.range(nBase).select(col("id").as("doc_id"),
        withBanner(wordsOf(col("id"), 30, perturb = false)).as("text"))
      .union(spark.range(nExact).select((col("id") + nBase).as("doc_id"),
        withBanner(wordsOf(col("id"), 30, perturb = false)).as("text")))
      .union(spark.range(nNear).select((col("id") + nBase + nExact).as("doc_id"),
        withBanner(wordsOf(col("id"), 30, perturb = true)).as("text")))
      .union(spark.range(nPii).select((col("id") + nBase + nExact + nNear).as("doc_id"),
        withBanner(concat(wordsOf(col("id") + 77777777L, 20, perturb = false),
          lit(" contact user"), col("id").cast("string"),
          lit("@example.com now"))).as("text")))
      .union(spark.range(nJunk).select(
        (col("id") + nBase + nExact + nNear + nPii).as("doc_id"),
        concat(lit("### !? "), col("id").cast("string")).as("text")))
  }

  def prepare(): Unit = {
    materialize(corpus, dataDir, files = 16)
    docs = spark.read.parquet(dataDir)
  }

  private def byRange(c: Column): Seq[Column] = {
    val bounds = Seq(0L, nBase, nBase + nExact, nBase + nExact + nNear,
      nBase + nExact + nNear + nPii, n)
    bounds.sliding(2).map { case Seq(lo, hi) =>
      sum(when(c >= lo && c < hi, 1L).otherwise(0L))
    }.toSeq
  }

  def expect(): Unit = {
    val r = docs.agg(count(lit(1)), byRange(col("doc_id")): _*).head()
    require(r.getLong(0) == n, s"corpus has ${r.getLong(0)} docs, expected $n")
    mix = Seq("docs" -> n) ++ Seq("base", "exact_clone", "near_clone", "pii", "junk")
      .zipWithIndex.map { case (k, i) => s"${k}_share" -> r.getLong(i + 1).toDouble / n }
  }

  def construct(): Unit =
    cfg = Curation.CurationConfig(nearDedup = true, nearDedupThreshold = threshold)

  def call(dir: String, t: Tracer): CallOut = t.span("curate") {
    val (out, callS) = time(t.span("ops.curate_call")(
      Curation.curate(docs, "doc_id", "text", cfg)))
    val (_, writeS) = time(t.span("ops.curate_write")(out.write.parquet(s"$dir/out")))
    CallOut(callS + writeS, Map("ops.curate_call_s" -> callS, "ops.curate_write_s" -> writeS))
  }

  def verify(dir: String, out: CallOut): Either[String, Map[String, Double]] = {
    val r = spark.read.parquet(s"$dir/out")
      .agg(count(lit(1)), (byRange(col("doc_id")) ++ Seq(
        sum(when(col("text").contains("[EMAIL]"), 1L).otherwise(0L)),
        sum(when(col("text").contains("@"), 1L).otherwise(0L)))): _*)
      .head()
    val survivors = r.getLong(0)
    val Seq(bases, exact, _, pii, junk, emails, at) = (1 to 7).map(r.getLong)
    val lo = nBase + nPii
    val hi = lo + nNear / 100
    val wantEmails = nPii + (if (perturb) 1 else 0)
    val problems = Seq(
      (survivors < lo || survivors > hi) -> s"$survivors survivors, expected [$lo, $hi]",
      (bases != nBase) -> s"$bases base docs kept, expected $nBase",
      (exact != 0) -> s"$exact exact clones kept",
      (pii != nPii) -> s"$pii e-mail docs kept, expected $nPii",
      (junk != 0) -> s"$junk junk docs kept",
      (emails != wantEmails) -> s"$emails [EMAIL] redactions, expected $wantEmails",
      (at != 0) -> s"$at docs kept an e-mail address")
    problems.collectFirst { case (true, why) => why }
      .toLeft(Map("ops.survivors" -> survivors.toDouble))
  }

  def properties: Seq[(String, Any)] = mix

  def layers(t: Tracer): Map[String, Double] = {
    def timed(name: String)(df: => DataFrame): Double = time(t.span(name)(noop(df)))._2
    Map(
      "ops.dedup_lines_s" -> timed("ops.dedup_lines")(
        Dedup.dedupLines(docs, "doc_id", "text", cfg.lineDedupMinDocs)),
      "ops.pii_redact_s" -> timed("ops.pii_redact")(
        docs.select(col("doc_id"), TextAnalysis.piiRedact(col("text")))),
      "ops.quality_score_s" -> timed("ops.quality_score")(
        docs.select(col("doc_id"), TextAnalysis.qualityScore(col("text")))),
      "ops.keep_canonical_s" -> timed("ops.keep_canonical")(
        Dedup.keepCanonical(docs, col("text"), Seq(col("doc_id")))),
      "ops.dedup_corpus_s" -> timed("ops.dedup_corpus")(
        Dedup.dedupCorpus(docs, "doc_id", "text", threshold)))
  }
}
