package graft

import graft.checks.{FreqDriftCheck, RowConstraintCheck, SketchDriftCheck}
import graft.streaming.StreamingValidation
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming validation over a MemoryStream source. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  case class Ev(doc_id: String, n_tok: Int, ts: Timestamp)

  val validator: Validator = Validator(
    """{"required":["doc_id"],"properties":{"n_tok":{"minimum":1,"maximum":100}}}""",
    compile.ValidatorOptions(greedy = true))

  test("streaming bloom referential: definite violations flagged statelessly") {
    implicit val sqlCtx = spark.sqlContext
    // dimension: doc ids d0..d49 allowed
    val blob = spark.range(50).select(concat(lit("d"), col("id")).as("k"))
      .agg(graft.sketch.BloomFunctions.bloom_agg(col("k"), 50, 1e-9))
      .head().getAs[Array[Byte]](0)
    val source = MemoryStream[Ev]
    val q = StreamingValidation.streamingReferentialBloom(
      source.toDF(), blob, "doc_id")
      .writeStream.format("memory").queryName("sv_bloom").outputMode("append").start()
    try {
      source.addData((0 until 80).map(i =>
        Ev(s"d$i", i, Timestamp.valueOf("2026-01-01 00:00:10"))): _*)
      q.processAllAvailable()
      val flagged = spark.table("sv_bloom").select("doc_id")
        .collect().map(_.getString(0)).toSet
      assert(flagged == (50 until 80).map(i => s"d$i").toSet, flagged.toString)
    } finally q.stop()
  }

  test("streaming cross-batch exact dedup: Bloom probe drops seen keys statelessly") {
    implicit val sqlCtx = spark.sqlContext
    // "yesterday's corpus": doc ids d0..d49 already ingested
    val seen = spark.range(50).select(concat(lit("d"), col("id")).as("k"))
    val index = graft.ops.Dedup.buildExactIndex(seen, col("k"), 1000L, 1e-9)
    val source = MemoryStream[Ev]
    val q = graft.ops.Dedup.dropSeenExact(source.toDF(), col("doc_id"), index)
      .writeStream.format("memory").queryName("sv_dedup").outputMode("append").start()
    try {
      source.addData((0 until 80).map(i =>
        Ev(s"d$i", i, Timestamp.valueOf("2026-01-01 00:00:10"))): _*)
      q.processAllAvailable()
      val kept = spark.table("sv_dedup").select("doc_id")
        .collect().map(_.getString(0)).toSet
      assert(kept == (50 until 80).map(i => s"d$i").toSet, kept.toString)
    } finally q.stop()
  }

  test("streaming dedup metrics: per-batch drop counts flag dedup drift") {
    implicit val sqlCtx = spark.sqlContext
    // "yesterday's corpus": d0..d99 indexed
    val seen = spark.range(100).select(concat(lit("d"), col("id")).as("k"))
    val index = graft.ops.Dedup.buildExactIndex(seen, col("k"), 1000L, 1e-9)
    val source = MemoryStream[Ev]
    val q = StreamingValidation.streamingDedupExact(
        source.toDF(), "doc_id", index)
      .writeStream.format("memory").queryName("sv_dedup_obs")
      .outputMode("append").start()
    try {
      // three healthy batches (10% drop rate), then a re-crawl batch
      // that is 100% yesterday's corpus
      for (b <- 0 until 3) {
        source.addData((0 until 20).map { i =>
          val id = if (i < 2) i else 1000 + b * 100 + i // 2 seen, 18 new
          Ev(s"d$id", i, Timestamp.valueOf("2026-01-01 00:00:10"))
        }: _*)
        q.processAllAvailable()
      }
      source.addData((0 until 20).map(i =>
        Ev(s"d$i", i, Timestamp.valueOf("2026-01-01 00:00:11"))): _*)
      q.processAllAvailable()
      // the filter itself behaved: 3×18 new + 0 from the re-crawl
      assert(spark.table("sv_dedup_obs").count() == 54)
      // observations → metrics-history frame → MetricsAnomaly
      val metrics = StreamingValidation.observationMetrics(
        spark, q.recentProgress.toSeq, "graft_dedup")
      val got = metrics.collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
      assert((0 until 3).forall(b =>
        got((b.toLong, "rows_in")) == 20.0 &&
        got((b.toLong, "rows_dropped")) == 2.0), got.toString)
      assert(got((3L, "rows_dropped")) == 20.0, got.toString)
      val flagged = graft.checks.MetricsAnomaly.flagRun(
          metrics.where(col("metric") === "rows_dropped"),
          "batch_id", 3L, Seq("metric"), "value")
        .select("anomalous").collect().map(_.getBoolean(0))
      assert(flagged.toSeq == Seq(true), flagged.mkString(","))
    } finally q.stop()
  }

  test("streaming violations: stateless validate over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Ev]
    val q = validator.violations(source.toDF(), Seq("doc_id", "ts"))
      .writeStream.format("memory").queryName("sv_viol").outputMode("append").start()
    try {
      source.addData(
        Ev("a", 5, Timestamp.valueOf("2026-01-01 00:00:01")),
        Ev("b", 0, Timestamp.valueOf("2026-01-01 00:00:02")),
        Ev(null, 7, Timestamp.valueOf("2026-01-01 00:00:03")))
      q.processAllAvailable()
      val rows = spark.table("sv_viol")
        .select("doc_id", "path", "keyword").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(rows == Set(
        ("b", "n_tok", "minimum"),
        (null, "doc_id", "required")))
    } finally q.stop()
  }

  test("stateful streaming uniqueness via flatMapGroupsWithState") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Ev]
    val q = StreamingValidation.streamingDuplicates(
      source.toDF(), "doc_id", "ts", watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("sv_dups").outputMode("append").start()
    try {
      source.addData(
        Ev("a", 1, Timestamp.valueOf("2026-01-01 00:00:01")),
        Ev("b", 1, Timestamp.valueOf("2026-01-01 00:00:02")),
        Ev("a", 1, Timestamp.valueOf("2026-01-01 00:00:03"))) // dup in-batch
      q.processAllAvailable()
      source.addData(
        Ev("b", 1, Timestamp.valueOf("2026-01-01 00:00:10")), // dup cross-batch
        Ev("c", 1, Timestamp.valueOf("2026-01-01 00:00:11"))) // first sighting
      q.processAllAvailable()
      val dups = spark.table("sv_dups").as[(String, Long)].collect().toSet
      assert(dups == Set(("a", 2L), ("b", 2L)), dups.toString)

      // duplicate inside the retention window must be caught even after an
      // unrelated event advanced the watermark past the key's first
      // sighting (the eviction timeout anchors to the key's own event
      // time + delay, not to the current watermark)
      source.addData(Ev("z", 1, Timestamp.valueOf("2026-01-01 00:05:00")))
      q.processAllAvailable() // watermark → ~00:00:01 (> a/b sightings)
      source.addData(Ev("a", 1, Timestamp.valueOf("2026-01-01 00:06:00")))
      q.processAllAvailable()
      val dups2 = spark.table("sv_dups").as[(String, Long)].collect().toSet
      assert(dups2.contains(("a", 3L)), dups2.toString)
    } finally q.stop()
  }

  test("windowed verdicts with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Ev]
    val df = source.toDF().withColumn("part", lit(0))
    val q = StreamingValidation.windowedVerdicts(
      df, Seq(RowConstraintCheck(validator)), "ts", "part", "1 minute", "1 minute")
      .writeStream.format("memory").queryName("sv_verd").outputMode("update").start()
    try {
      source.addData(
        Ev("a", 5, Timestamp.valueOf("2026-01-01 00:00:10")),
        Ev("b", -1, Timestamp.valueOf("2026-01-01 00:00:20")),
        Ev("c", 5, Timestamp.valueOf("2026-01-01 00:01:10")))
      q.processAllAvailable()
      val out = spark.table("sv_verd")
        .select(col("window.start").cast("string"), col("check"), col("passed"),
          col("violation_count"), col("metric_value")).collect()
      val verd = out.filter(_.getString(1) == "row_constraint")
        .map(r => (r.getString(0), r.getBoolean(2), r.getLong(3))).toSet
      val rows = out.filter(_.getString(1) == "row_count")
        .map(r => r.getString(0) -> r.getDouble(4)).toMap
      assert(verd.contains(("2026-01-01 00:00:00", false, 1L)))
      assert(verd.contains(("2026-01-01 00:01:00", true, 0L)))
      assert(rows == Map("2026-01-01 00:00:00" -> 2.0, "2026-01-01 00:01:00" -> 1.0))
    } finally q.stop()
  }

  test("windowed KS drift against a persisted profile sketch") {
    implicit val sqlCtx = spark.sqlContext
    // profile from a clean batch sample: n_tok uniform over 1..50
    val profileDf = spark.range(2000).select(((col("id") % 50) + 1).as("n_tok"))
    val profile = graft.checks.SketchDriftCheck.buildProfile(profileDf, "n_tok")

    val source = MemoryStream[Ev]
    val df = source.toDF().withColumn("part", lit(0))
    val q = StreamingValidation.windowedVerdicts(
      df, Seq(SketchDriftCheck("n_tok", profile, threshold = 0.1)), "ts", "part",
      windowDuration = "1 minute", watermarkDelay = "1 minute")
      .writeStream.format("memory").queryName("sv_drift").outputMode("update").start()
    try {
      // window 0: same distribution (1..50); window 1: shifted (+60)
      val w0 = (1 to 50).map(i =>
        Ev(s"a$i", i, Timestamp.valueOf("2026-01-01 00:00:10")))
      val w1 = (1 to 50).map(i =>
        Ev(s"b$i", i + 60, Timestamp.valueOf("2026-01-01 00:01:10")))
      source.addData(w0 ++ w1: _*)
      q.processAllAvailable()
      val out = spark.table("sv_drift").where(col("check") =!= "row_count")
        .select(col("window.start").cast("string"), col("passed"),
          col("metric_value")).collect()
        .map(r => r.getString(0) -> ((r.getBoolean(1), r.getDouble(2)))).toMap
      val (samePassed, sameKs) = out("2026-01-01 00:00:00")
      val (driftPassed, driftKs) = out("2026-01-01 00:01:00")
      assert(samePassed && sameKs < 0.1, s"same-distribution KS=$sameKs")
      assert(!driftPassed && driftKs > 0.5, s"shifted KS=$driftKs")
    } finally q.stop()
  }

  test("windowed categorical drift against a persisted frequency profile") {
    implicit val sqlCtx = spark.sqlContext
    // profile: doc_id values spread over 5 categories c0..c4
    val profileDf = spark.range(1000)
      .select(concat(lit("c"), col("id") % 5).as("cat"))
    val profile = graft.checks.FreqDriftCheck.buildProfile(profileDf, "cat", 32)

    val source = MemoryStream[Ev]
    // categorical column derived from n_tok so we can reuse Ev
    val df = source.toDF().withColumn("part", lit(0))
      .withColumn("cat", concat(lit("c"), col("n_tok") % 5))
    val q = StreamingValidation.windowedVerdicts(
      df, Seq(FreqDriftCheck("cat", profile, threshold = 10.0, capacity = 32)), "ts", "part",
      windowDuration = "1 minute", watermarkDelay = "1 minute")
      .writeStream.format("memory").queryName("sv_fdrift").outputMode("update").start()
    try {
      // window 0: uniform over the 5 categories; window 1: all c0
      val w0 = (1 to 50).map(i =>
        Ev(s"a$i", i, Timestamp.valueOf("2026-01-01 00:00:10")))
      val w1 = (1 to 50).map(i =>
        Ev(s"b$i", 5, Timestamp.valueOf("2026-01-01 00:01:10")))
      source.addData(w0 ++ w1: _*)
      q.processAllAvailable()
      val out = spark.table("sv_fdrift").where(col("check") =!= "row_count")
        .select(col("window.start").cast("string"), col("passed"),
          col("metric_value")).collect()
        .map(r => r.getString(0) -> ((r.getBoolean(1), r.getDouble(2)))).toMap
      val (samePassed, sameChi2) = out("2026-01-01 00:00:00")
      val (driftPassed, driftChi2) = out("2026-01-01 00:01:00")
      assert(samePassed && sameChi2 < 10.0, s"same-distribution chi2=$sameChi2")
      assert(!driftPassed && driftChi2 > 100.0, s"collapsed chi2=$driftChi2")
    } finally q.stop()
  }

  test("windowed PSI drift: stable window passes, collapsed window drifts") {
    implicit val sqlCtx = spark.sqlContext
    val profileDf = spark.range(1000)
      .select(concat(lit("c"), col("id") % 5).as("cat"))
    val profile = graft.checks.FreqDriftCheck.buildProfile(profileDf, "cat", 32)

    val source = MemoryStream[Ev]
    val df = source.toDF().withColumn("part", lit(0))
      .withColumn("cat", concat(lit("c"), col("n_tok") % 5))
    val q = StreamingValidation.windowedVerdicts(
      df, Seq(FreqDriftCheck("cat", profile, threshold = 0.25, capacity = 32,
        statistic = FreqDriftCheck.Psi)), "ts", "part",
      windowDuration = "1 minute", watermarkDelay = "1 minute")
      .writeStream.format("memory").queryName("sv_psidrift").outputMode("update").start()
    try {
      val w0 = (1 to 50).map(i =>
        Ev(s"a$i", i, Timestamp.valueOf("2026-01-01 00:00:10")))
      val w1 = (1 to 50).map(i =>
        Ev(s"b$i", 5, Timestamp.valueOf("2026-01-01 00:01:10")))
      source.addData(w0 ++ w1: _*)
      q.processAllAvailable()
      val out = spark.table("sv_psidrift").where(col("check") =!= "row_count")
        .select(col("window.start").cast("string"), col("passed"),
          col("metric_value")).collect()
        .map(r => r.getString(0) -> ((r.getBoolean(1), r.getDouble(2)))).toMap
      val (samePassed, samePsi) = out("2026-01-01 00:00:00")
      val (driftPassed, driftPsi) = out("2026-01-01 00:01:00")
      assert(samePassed && samePsi < 0.1, s"same-distribution psi=$samePsi")
      assert(!driftPassed && driftPsi > 1.0, s"collapsed psi=$driftPsi")
      // batch parity: the sketch-blob PSI equals the batch check's
      // statistic on identical data (bounded cardinality -> exact counts)
      val batch = graft.checks.PsiDriftCheck("cat",
        profileDf, threshold = 0.25)
        .run(spark.range(50).select((col("id") + 1).as("i"))
          .select(concat(lit("c"), col("i") % 5).as("cat"), lit(0).as("part")))
        .verdicts.select("metric_value").head().getDouble(0)
      assert(math.abs(batch - samePsi) < 1e-9,
        s"sketch PSI $samePsi != batch PSI $batch")
    } finally q.stop()
  }

  test("windowed KS: an all-NULL (window, part) drifts maximally, as in batch") {
    implicit val sqlCtx = spark.sqlContext
    val profileDf = spark.range(2000).select(((col("id") % 50) + 1).as("n_tok"))
    val profile = SketchDriftCheck.buildProfile(profileDf, "n_tok")
    val source = MemoryStream[Ev]
    // window 0 carries values; in window 1 the checked column is all NULL
    val df = source.toDF().withColumn("part", lit(0)).withColumn("x",
      when(col("ts") < lit(Timestamp.valueOf("2026-01-01 00:01:00")), col("n_tok")))
    val q = StreamingValidation.windowedVerdicts(
      df, Seq(SketchDriftCheck("x", profile, threshold = 0.1)), "ts", "part",
      windowDuration = "1 minute", watermarkDelay = "1 minute")
      .writeStream.format("memory").queryName("sv_nulldrift").outputMode("update").start()
    try {
      source.addData((1 to 50).flatMap(i => Seq(
        Ev(s"a$i", i, Timestamp.valueOf("2026-01-01 00:00:10")),
        Ev(s"b$i", i, Timestamp.valueOf("2026-01-01 00:01:10")))): _*)
      q.processAllAvailable()
      val out = spark.table("sv_nulldrift").where(col("check") === "drift_kll_ks:x")
        .select(col("window.start").cast("string"), col("passed"), col("metric_value"))
        .collect().map(r => r.getString(0) -> ((r.get(1), r.get(2)))).toMap
      assert(out("2026-01-01 00:00:00")._1 == true, out.toString)
      assert(out("2026-01-01 00:01:00") == ((false, 1.0)), out.toString)
    } finally q.stop()
  }

  test("windowed verdicts equal each check's batch run over the window's rows") {
    implicit val sqlCtx = spark.sqlContext
    val kllProfile = SketchDriftCheck.buildProfile(
      spark.range(2000).select(((col("id") % 50) + 1).as("n_tok")), "n_tok")
    val freqProfile = FreqDriftCheck.buildProfile(
      spark.range(1000).select(concat(lit("c"), col("id") % 5).as("cat")), "cat", 32)
    val checks = Seq(
      RowConstraintCheck(validator),
      SketchDriftCheck("n_tok", kllProfile, threshold = 0.1),
      FreqDriftCheck("cat", freqProfile, threshold = 10.0, capacity = 32),
      FreqDriftCheck("cat", freqProfile, threshold = 0.25, capacity = 32,
        statistic = FreqDriftCheck.Psi))
    def derive(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("part", pmod(col("n_tok"), lit(2)))
        .withColumn("cat", concat(lit("c"), col("n_tok") % 5))
    // window 0: in-profile values with a few invalid rows; window 1: a
    // shifted, partly out-of-range distribution
    val w0 = (1 to 60).map(i => Ev(if (i == 7) null else s"a$i",
      if (i % 13 == 0) 0 else i, Timestamp.valueOf("2026-01-01 00:00:10")))
    val w1 = (1 to 40).map(i =>
      Ev(s"b$i", i * 5, Timestamp.valueOf("2026-01-01 00:01:10")))
    val source = MemoryStream[Ev]
    val q = StreamingValidation.windowedVerdicts(
      derive(source.toDF()), checks, "ts", "part", "1 minute", "1 minute")
      .writeStream.format("memory").queryName("sv_parity").outputMode("update").start()
    val streamed = try {
      source.addData(w0 ++ w1: _*)
      q.processAllAvailable()
      spark.table("sv_parity").where(col("check") =!= "row_count")
        .select(col("window.start").cast("string"), col("part"), col("check"),
          col("passed"), col("violation_count"), col("metric_value")).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2)) ->
          ((r.getBoolean(3), r.getLong(4), r.getDouble(5)))).toMap
    } finally q.stop()
    val batch = Seq("2026-01-01 00:00:00" -> w0, "2026-01-01 00:01:00" -> w1)
      .flatMap { case (start, rows) =>
        val df = derive(rows.map(e => (e.doc_id, e.n_tok, e.ts)).toDF("doc_id", "n_tok", "ts"))
        checks.flatMap(_.run(df).verdicts.collect()).map(r =>
          (start, r.getInt(0), r.getString(1)) ->
            ((r.getBoolean(2), r.getLong(3), r.getDouble(4))))
      }.toMap
    assert(batch.size == 4 * 2 * 2)
    assert(streamed == batch)
  }

  test("streaming paragraph dedup + LR scoring: stateless narrow twins") {
    implicit val sqlCtx = spark.sqlContext
    case class Doc(doc_id: String, text: String)
    // paragraph-mode probe against yesterday's paragraph index
    val yday = Seq("shared para one", "shared para two")
      .toDF("text")
    val pidx = graft.ops.Dedup.buildParagraphIndex(yday, "text", 1000L, 1e-9)
    // LR model trained on a tiny labeled batch corpus
    val corpus = Seq(
      ("good words here", true), ("good tokens here", true),
      ("zq xw junk", false), ("zq vv junk", false)).toDF("text", "y")
    val lrm = graft.ops.LrClassifier.train(corpus, "text", col("y"),
      buckets = 256, iters = 2)
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    val stream = source.toDF().toDF("doc_id", "text")
    val q = graft.ops.LrClassifier.score(
      graft.ops.Dedup.dropSeenParagraphs(stream, "text", pidx),
      "text", lrm)
      .writeStream.format("memory").queryName("sv_para_lr")
      .outputMode("append").start()
    try {
      source.addData(
        ("a", "fresh start\n\nshared para one\n\nfresh end"),
        ("b", "good words here"),
        ("c", "zq xw junk"))
      q.processAllAvailable()
      val rows = spark.table("sv_para_lr")
        .select("doc_id", "text", "lr_prob").collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getDouble(2))).toMap
      assert(rows("a")._1 == "fresh start\n\nfresh end")
      assert(rows("b")._2 > 0.5 && rows("c")._2 < 0.5, rows.toString)
    } finally q.stop()
  }
}
