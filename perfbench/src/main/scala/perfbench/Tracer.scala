package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext

/** One timed interval: a call into a layer, a Spark job or a Spark stage.
  * Times are wall-clock milliseconds; `parent` is 0 for a root span. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Length of the union of intervals, clipped to [lo, hi]. */
object Intervals {
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** In-memory spans recorded from the benchmark's side of each call into
  * graft. A span sets the Spark job group of the calling thread to its
  * id; threads that graft starts inside the call inherit Spark's local
  * properties, so their jobs carry the group too. [[attach]] turns the
  * recorded jobs and stages into child spans, named by Spark's call site.
  * Disabled, a span is a plain call. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  private def newId(): Int = { val i = nextId; nextId += 1; i }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = newId()
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setJobGroup(s"span-$id", null) // a description would rename SQL jobs
      val t0 = System.currentTimeMillis().toDouble
      try f
      finally {
        spans += Span(id, parent, name, "layer", t0, System.currentTimeMillis().toDouble)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-$p", null)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Adds the jobs of `w` as children of the span whose id is their job
    * group, and each job's stages as children of the job. */
  def attach(w: Window): Unit = if (enabled) {
    val stageById = w.stages.groupBy(_.id).map { case (k, v) => k -> v.head }
    val seen = scala.collection.mutable.Set.empty[Int]
    w.jobs.foreach { j =>
      val parent = j.group.stripPrefix("span-").toIntOption.getOrElse(0)
      val jid = newId()
      spans += Span(jid, parent, s"job: ${j.callSite}", "job", j.startMs.toDouble, j.endMs.toDouble)
      j.stageIds.flatMap(stageById.get).filter(s => seen.add(s.id)).foreach { s =>
        spans += Span(newId(), jid, s"stage: ${s.name}", "stage",
          s.submitMs.toDouble, s.doneMs.toDouble)
      }
    }
  }

  /** Span duration minus the part of it its children cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.iterator.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)).toSeq
    s.durMs - Intervals.covered(kids, s.startMs, s.endMs)
  }

  /** (name, kind, count, total ms, self ms), summed over spans of one name. */
  def summary: Seq[(String, String, Int, Double, Double)] =
    spans.toSeq.groupBy(s => (s.name, s.kind)).toSeq.map { case ((n, k), ss) =>
      (n, k, ss.size, ss.map(_.durMs).sum, ss.map(selfMs).sum)
    }.sortBy(-_._4)

  def toJson: String = spans.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"kind":"${s.kind}",""" +
      f""""start_ms":${s.startMs}%.1f,"end_ms":${s.endMs}%.1f,"self_ms":${selfMs(s)}%.1f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
