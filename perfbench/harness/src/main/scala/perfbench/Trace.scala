package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** In-memory spans recorded around the harness's calls into each layer,
  * written out once at the end of a run. Disabled, every call is a
  * pass-through, so untraced runs pay nothing for it. */
final class Tracer(initially: Boolean) {
  @volatile var enabledNow: Boolean = initially
  def enabled: Boolean = enabledNow

  final case class Span(id: Int, parent: Int, layer: String, name: String,
                        startMs: Double, endMs: Double) {
    def ms: Double = endMs - startMs
  }

  private val clock = Timer.start()
  private val spans = ArrayBuffer[Span]()
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  /** Time `body` as a span of `layer`, nested under the caller's span. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.synchronized { spans += null; spans.length - 1 }
      val parent = open.get().headOption.getOrElse(-1)
      open.set(id :: open.get())
      val t0 = clock.nowMs
      try body
      finally {
        val t1 = clock.nowMs
        open.set(open.get().tail)
        spans.synchronized { spans(id) = Span(id, parent, layer, name, t0, t1) }
      }
    }

  /** Record a span measured elsewhere, in epoch milliseconds (a
    * micro-batch from its progress report). Returns its id. */
  def add(layer: String, name: String, startMs: Double, endMs: Double,
          parent: Int = -1): Int = spans.synchronized {
    spans += Span(spans.length, parent, layer, name, startMs, endMs)
    spans.length - 1
  }

  def all: Seq[Span] = spans.synchronized(spans.filter(_ != null).toSeq)

  /** Adopt parentless spans into the innermost recorded span whose
    * interval contains them (a writer call inside a micro-batch's
    * addBatch phase, which is recorded only after the batch ends). */
  def nestByTime(): Unit = spans.synchronized {
    val ss = spans.filter(_ != null).toSeq
    ss.filter(_.parent < 0).foreach { s =>
      val hosts = ss.filter(h => h.id != s.id && h.startMs <= s.startMs &&
        h.endMs >= s.endMs && h.ms > s.ms)
      if (hosts.nonEmpty) spans(s.id) = s.copy(parent = hosts.minBy(_.ms).id)
    }
  }

  /** Seconds per layer spent in its spans outside their child spans. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0.0, Double.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.layer -> (s.ms - covered) / 1000.0
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def write(f: File): Unit = Json.write(f, all.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
}

/** Spark job/task counters, attributed to the phase the submitting
  * thread named in the `perfbench.phase` local property when the job
  * started: `construct` (building a DataFrame), `execute` (running it)
  * or `other`. */
final class Counters extends SparkListener {
  private val m = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
  private val stagePhase = scala.collection.mutable.Map[Int, String]()
  private def add(k: String, v: Long): Unit = m.synchronized { m(k) += v }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val phase = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Counters.Key))).getOrElse("other")
    m.synchronized { e.stageIds.foreach(stagePhase(_) = phase) }
    add(s"$phase.jobs", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val phase = m.synchronized(stagePhase.getOrElse(e.stageId, "other"))
    add(s"$phase.tasks", 1)
    Option(e.taskMetrics).foreach { t =>
      add(s"$phase.shuffle_bytes",
        t.shuffleWriteMetrics.bytesWritten + t.shuffleReadMetrics.totalBytesRead)
      add(s"$phase.spill_bytes", t.memoryBytesSpilled + t.diskBytesSpilled)
    }
  }

  def get(k: String): Long = m.synchronized(m(k))
}

object Counters {
  val Key = "perfbench.phase"
}
