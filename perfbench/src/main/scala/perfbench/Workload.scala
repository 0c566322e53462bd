package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** What one product call produced besides its outputs on disk. */
final case class CallOut(seconds: Double, facts: Map[String, Double])

/** One benchmark workload: inputs made from the seed, the product call it
  * times, and the output check that is independent of graft. */
trait Workload {
  /** Input rows (documents for curation) that one product call processes. */
  def units: Long

  /** Untimed product calls before the measured ones: the first calls in a
    * JVM run slower while the JIT and Spark's codegen cache fill. */
  def warmupCalls: Int

  /** Generates the input tables, or reuses them when this seed and size
    * were generated before. Not part of set-up time. */
  def prepare(): Unit

  /** Computes the expected outputs with plain Spark. Not part of set-up. */
  def expect(): Unit

  /** Builds what the product call needs (spec compile, check
    * construction). Timed as set-up, several times. */
  def construct(): Unit

  /** The product call, writing its outputs under `dir`. */
  def call(dir: String, t: Tracer): CallOut

  /** Checks the outputs under `dir`; Left(reason) when they are wrong,
    * else counts read back from the outputs. */
  def verify(dir: String, call: CallOut): Either[String, Map[String, Double]]

  /** Input properties measured on the generated tables. */
  def properties: Seq[(String, Any)]

  /** Standalone calls into single layers, each under its own span;
    * returns per-layer metrics. */
  def layers(t: Tracer): Map[String, Double]
}

object Workload {
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `df` to completion without writing anything. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def bytesUnder(dir: String): Long = {
    val p = new File(dir).toPath
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
  }

  def deleteTree(dir: String): Unit = {
    val p = new File(dir).toPath
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach((q: Path) => Files.delete(q))
  }

  /** Keeps the `keep` most recently used input tables under `root`. */
  def evictInputs(root: String, keep: Int): Unit =
    Option(new File(root).listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(_.isDirectory).sortBy(-_.lastModified()).drop(keep)
      .foreach(d => deleteTree(d.getPath))

  /** Writes a generated table once per seed and size; a `_SUCCESS` marker
    * tells a complete table from one cut short. */
  def materialize(df: => DataFrame, dir: String, files: Int): Unit = {
    if (!new File(s"$dir/_SUCCESS").exists())
      df.repartition(files).write.mode("overwrite").parquet(dir)
    new File(dir).setLastModified(System.currentTimeMillis())
  }
}
