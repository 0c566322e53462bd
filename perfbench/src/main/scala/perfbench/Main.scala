package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import graft.BenchCore
import graft.data.TokenTable
import org.apache.spark.sql.SparkSession

/** End-to-end benchmark of graft's product path.
  *
  * {{{
  * perfbench.Main --workload validate_clean|validate_poisoned|curate
  *   --seed N --seconds S --trace 0|1 --work DIR [--rows N] [--perturb]
  * }}}
  *
  * Makes the workload's inputs from the seed, sets up, warms up with one
  * product call, then repeats the product call for `--seconds`, checking
  * every call's outputs against expectations computed with plain Spark.
  * With `--trace 0` it reports the end-to-end metrics; with `--trace 1`
  * it times single layers standalone, alternates untraced and traced
  * product calls, and reports the per-layer metrics and the tracing
  * overhead, writing the spans to `DIR/traces`. `--rows` shrinks the
  * input (smoke tests); `--perturb` adds one to an expected count, so the
  * output check must fail. The last stdout line is the result object.
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "rows_per_s" -> "rows/s", "setup_s" -> "s",
    "peak_task_mem_mb" -> "MB", "output_bytes" -> "bytes")

  val PerLayer: Seq[(String, String)] = Seq(
    "scan.rows_read" -> "count", "scan.bytes_read" -> "bytes", "scan.passes" -> "ratio",
    "scan.tokens_s" -> "s", "scan.ntok_s" -> "s",
    "compile.spec_s" -> "s", "compile.valid_s" -> "s", "compile.errors_s" -> "s",
    "compile.invalid_rows" -> "count",
    "checks.row_constraint_s" -> "s", "checks.uniqueness_s" -> "s",
    "checks.referential_bloom_s" -> "s", "checks.drift_kll_s" -> "s", "checks.stats_s" -> "s",
    "checks.violation_rows" -> "count",
    "pipeline.run_s" -> "s", "pipeline.overhead_ratio" -> "ratio",
    "pipeline.committed_parts" -> "count",
    "exchange.shuffle_write_bytes" -> "bytes", "exchange.shuffle_read_bytes" -> "bytes",
    "exchange.spill_bytes" -> "bytes",
    "executor.cpu_s" -> "s", "executor.run_s" -> "s", "executor.gc_s" -> "s",
    "executor.busy_frac" -> "ratio", "executor.task_skew" -> "ratio",
    "executor.tasks_failed" -> "count",
    "driver.jobs" -> "count", "driver.stages" -> "count", "driver.tasks" -> "count",
    "driver.idle_s" -> "s",
    "ops.dedup_lines_s" -> "s", "ops.pii_redact_s" -> "s", "ops.quality_score_s" -> "s",
    "ops.keep_canonical_s" -> "s", "ops.dedup_corpus_s" -> "s",
    "ops.curate_call_s" -> "s", "ops.curate_write_s" -> "s", "ops.survivors" -> "count",
    "trace.overhead_s" -> "s")

  /** Input sizes, chosen so that one run with its set-up stays well under
    * a minute on 4 cores. */
  val CleanRows = 100000L
  val PoisonedRows = 50000L
  val CurateDocs = 40000L
  val ConstructReps = 3
  val MinCalls = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, rows: Option[Long], perturb: Boolean)

  def parse(argv: Array[String]): Args = {
    val flags = Set("--perturb")
    def loop(xs: List[String], m: Map[String, String]): Map[String, String] = xs match {
      case f :: rest if flags(f) => loop(rest, m + (f -> "1"))
      case k :: v :: rest if k.startsWith("--") => loop(rest, m + (k -> v))
      case Nil => m
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    val m = loop(argv.toList, Map.empty)
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val a = Args(req("--workload"), req("--seed").toLong, req("--seconds").toInt,
      req("--trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
      },
      req("--work"), m.get("--rows").map(_.toLong), m.contains("--perturb"))
    require(a.seconds >= 1, "--seconds must be >= 1")
    a
  }

  def workload(spark: SparkSession, a: Args): Workload = {
    val clean = TokenTable.Config(rows = a.rows.getOrElse(CleanRows), parts = 32,
      maxLen = 128, seed = a.seed)
    a.workload match {
      case "validate_clean" =>
        new ValidateWorkload(spark, a.workload, clean, a.work, a.perturb)
      case "validate_poisoned" =>
        new ValidateWorkload(spark, a.workload,
          clean.copy(rows = a.rows.getOrElse(PoisonedRows), oobPerMille = 400,
            mismatchPerMille = 200, dupPerMille = 20, unknownSourcePerMille = 100),
          a.work, a.perturb)
      case "curate" =>
        new CurateWorkload(spark, a.rows.getOrElse(CurateDocs), a.seed, a.work, a.perturb)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = BenchCore.session(cores)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val code =
      try { new Harness(spark, a, cores, sessionS).run(); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
      finally spark.stop()
    sys.exit(code)
  }
}

/** One product call and what was measured around it. */
final case class Attempt(out: CallOut, facts: Map[String, Double], window: Window,
                         outputBytes: Long, startMs: Double, endMs: Double)

final class Harness(spark: SparkSession, a: Main.Args, cores: Int, sessionS: Double) {
  import Workload._

  private val sc = spark.sparkContext
  private val rec = new Recorder(sc)
  private val w = Main.workload(spark, a)
  private val untraced = new Tracer(sc, enabled = false)
  private val tracer = new Tracer(sc, enabled = true)
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var lastCallS = 0.0

  /** One checked product call in a fresh output directory; None when the
    * call threw. */
  private def attempt(t: Tracer): Option[Attempt] = {
    attempted += 1
    val dir = s"${a.work}/iter/$attempted"
    deleteTree(dir)
    try {
      rec.reset()
      val t0 = System.currentTimeMillis().toDouble
      val out = try w.call(dir, t)
        finally lastCallS = (System.currentTimeMillis() - t0) / 1e3
      val t1 = System.currentTimeMillis().toDouble
      val win = rec.window()
      val bytes = bytesUnder(s"$dir/out")
      // a call whose outputs fail the check still ran: it is timed, and
      // counted as failed
      val facts = w.verify(dir, out) match {
        case Right(f) => f
        case Left(why) => failures += why; Map.empty[String, Double]
      }
      Some(Attempt(out, facts, win, bytes, t0, t1))
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        failures += s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
    } finally deleteTree(dir)
  }

  private def probe(): Map[String, Double] = {
    val (single, total) = BenchCore.cpuProbe(cores)
    Map("mops_single" -> single, "mops_total" -> total, "effective_cores" -> total / single)
  }

  def run(): Unit = {
    val (_, genS) = time {
      w.prepare()
      evictInputs(s"${a.work}/data", keep = 24)
    }
    val (_, expectS) = time(w.expect())
    val constructS = (1 to Main.ConstructReps).map(_ => time(w.construct())._2)
    val warmS = (1 to w.warmupCalls).map { _ => attempt(untraced); lastCallS }
    val setupS = sessionS + Stats.median(constructS) + warmS.sum

    val probeStart = probe()
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    val (metrics, detail) =
      if (!a.trace) {
        val done = Vector.newBuilder[Attempt]
        var n = 0
        while (n < Main.MinCalls || System.nanoTime() < deadline) {
          attempt(untraced).foreach(done += _)
          n += 1
        }
        val calls = done.result()
        require(calls.nonEmpty, s"every product call threw: ${failures.mkString("; ")}")
        val m = Map(
          "rows_per_s" -> w.units / Stats.median(calls.map(_.out.seconds)),
          "setup_s" -> setupS,
          "peak_task_mem_mb" -> Stats.median(calls.map(_.window.peakMem / 1048576.0)),
          "output_bytes" -> Stats.median(calls.map(_.outputBytes.toDouble)))
        (m, Seq("calls_s" -> calls.map(_.out.seconds)))
      } else traced(deadline)
    val probeEnd = probe()

    val wanted = if (a.trace) Main.PerLayer else Main.EndToEnd
    val failed = failures.size
    val result = Json.obj(Seq(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> wanted.map { case (k, unit) =>
        k -> Map("value" -> metrics.getOrElse(k, 0.0), "unit" -> unit)
      }.toMap))
    println(Json.obj(Seq("perfbench" -> (Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> cores,
      "cpu_probe_start" -> probeStart, "cpu_probe_end" -> probeEnd,
      "properties" -> w.properties.toMap,
      "setup" -> Map("session_s" -> sessionS, "construct_s" -> constructS,
        "warmup_s" -> warmS),
      "data_gen_s" -> genS, "expect_s" -> expectS,
      "failures" -> failures.toSeq) ++ detail))))
    println(result)
  }

  /** Standalone layer calls, then untraced and traced product calls in
    * alternation; per-layer metrics are medians over the traced calls. */
  private def traced(deadline: Long): (Map[String, Double], Seq[(String, Any)]) = {
    rec.detailed = true
    rec.reset()
    val layerM = w.layers(tracer)
    tracer.attach(rec.window())

    val on = Vector.newBuilder[Attempt]
    val off = Vector.newBuilder[Attempt]
    do {
      rec.detailed = false
      attempt(untraced).foreach(off += _)
      rec.detailed = true
      attempt(tracer).foreach { x => tracer.attach(x.window); on += x }
    } while (System.nanoTime() < deadline)
    val (ons, offs) = (on.result(), off.result())
    require(ons.nonEmpty && offs.nonEmpty, s"every product call threw: ${failures.mkString("; ")}")

    val checkSum = layerM.collect { case (k, v) if k.startsWith("checks.") => v }.sum
    val perCall = ons.map { x =>
      val ratio = x.out.facts.get("pipeline.run_s").map("pipeline.overhead_ratio" -> _ / checkSum)
      Layers.of(x, cores, w.units) ++ x.out.facts ++ x.facts ++ ratio
    }
    val medians = perCall.flatMap(_.keys).distinct.map(k =>
      k -> Stats.median(perCall.flatMap(_.get(k)))).toMap
    val overhead = Stats.median(ons.map(_.out.seconds)) - Stats.median(offs.map(_.out.seconds))

    val path = Paths.get(a.work, "traces", s"${a.workload}-seed${a.seed}.json")
    Files.createDirectories(path.getParent)
    Files.writeString(path, tracer.toJson)
    val selfTimes = tracer.summary.take(25).map { case (n, k, c, tot, self) =>
      Map("name" -> n, "kind" -> k, "count" -> c, "total_s" -> tot / 1e3, "self_s" -> self / 1e3)
    }
    (layerM ++ medians + ("trace.overhead_s" -> overhead),
      Seq("trace_file" -> path.toString, "traced_calls_s" -> ons.map(_.out.seconds),
        "untraced_calls_s" -> offs.map(_.out.seconds), "span_self_times" -> selfTimes))
  }
}

/** Per-layer figures of one product call from the recorder's window. */
object Layers {
  def of(x: Attempt, cores: Int, units: Long): Map[String, Double] = {
    val ts = x.window.tasks
    val wallMs = x.endMs - x.startMs
    val runS = ts.map(_.runMs).sum / 1e3
    val rowsRead = ts.map(_.recordsRead).sum.toDouble
    val skew = ts.groupBy(_.stageId).values.filter(_.size >= 2).map { st =>
      val d = st.map(t => (t.finishMs - t.launchMs).toDouble)
      d.max / math.max(1.0, Stats.median(d))
    }.maxOption.getOrElse(1.0)
    val busyMs = Intervals.covered(ts.map(t => (t.launchMs.toDouble, t.finishMs.toDouble)),
      x.startMs, x.endMs)
    Map(
      "scan.rows_read" -> rowsRead,
      "scan.bytes_read" -> ts.map(_.bytesRead).sum.toDouble,
      "scan.passes" -> rowsRead / units,
      "exchange.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "exchange.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "exchange.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "executor.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "executor.run_s" -> runS,
      "executor.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "executor.busy_frac" -> runS / (wallMs / 1e3 * cores),
      "executor.task_skew" -> skew,
      "executor.tasks_failed" -> x.window.failedTasks.toDouble,
      "driver.jobs" -> x.window.jobs.size.toDouble,
      "driver.stages" -> x.window.stages.map(_.id).distinct.size.toDouble,
      "driver.tasks" -> ts.size.toDouble,
      "driver.idle_s" -> (wallMs - busyMs) / 1e3)
  }
}
