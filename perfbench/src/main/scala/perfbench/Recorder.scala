package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import scala.collection.mutable.ArrayBuffer

/** Wall clock in epoch nanoseconds: nanoTime precision, shared with the
  * run.py (which starts the clock) and the listener's epoch-ms events. */
object Clock {
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = System.nanoTime() + offset
  def fromMs(ms: Long): Long = ms * 1000000L
}

/** One recorded span. `parent` is 0 for the root; `ref` carries the doc id,
  * job id or query name the span belongs to. */
final case class SpanRec(id: Long, parent: Long, name: String, start: Long, end: Long, ref: String)

/** In-memory span store plus the step wrapper that attributes every Spark
  * job to the benchmark step that issued it (job group = step span id). */
final class Recorder(sc: SparkContext) {
  val spans = new ArrayBuffer[SpanRec]
  private var nextId = 1L
  def newId(): Long = synchronized { val i = nextId; nextId += 1; i }
  def add(s: SpanRec): Unit = synchronized { spans += s }

  val workloadId: Long = newId()
  /** Codegen classes compiled and compile nanoseconds, per step span id. */
  val codegen = scala.collection.mutable.LinkedHashMap.empty[Long, Seq[Long]]

  /** A step: a runner call, a query, an extraction pass, or an untimed
    * set-up / verification action. Returns the result and the duration (ns). */
  def step[T](name: String, kind: String)(body: => T): (T, Long) = {
    val id = newId()
    sc.setJobGroup(s"pb-$id", s"$kind:$name", interruptOnCancel = false)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val n0 = CodeGenerator.compileTime
    val t0 = Clock.now
    try {
      val r = body
      val t1 = Clock.now
      codegen(id) = Seq(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0, CodeGenerator.compileTime - n0)
      add(SpanRec(id, workloadId, s"step.$kind", t0, t1, name))
      (r, t1 - t0)
    } catch {
      case e: Throwable =>
        add(SpanRec(id, workloadId, s"step.$kind.failed", t0, Clock.now, name))
        throw e
    } finally sc.clearJobGroup()
  }

  /** Spans for the listener's jobs (under the step that issued them) and
    * stages (under their first job). Returns the span id of each
    * (stage, attempt). */
  def addSparkSpans(l: BenchListener): Map[(Int, Int), Long] = l.synchronized {
    val jobSpan = l.jobs.values.map { j =>
      val parent = Option(j.group).filter(_.startsWith("pb-")).map(_.drop(3).toLong).getOrElse(workloadId)
      val id = newId()
      add(SpanRec(id, parent, "spark.job", j.start, j.end, s"job-${j.id}"))
      j.id -> id
    }.toMap
    val owner = l.jobs.values.toSeq.flatMap(j => j.stages.map(_ -> j.id)).groupBy(_._1)
      .map { case (stage, js) => stage -> js.map(_._2).min }
    l.stages.values.map { s =>
      val id = newId()
      val parent = owner.get(s.id).flatMap(jobSpan.get).getOrElse(workloadId)
      add(SpanRec(id, parent, "spark.stage", s.submit, s.complete, s"stage-${s.id}.${s.attempt}"))
      (s.id, s.attempt) -> id
    }.toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new java.lang.StringBuilder
    synchronized {
      spans.foreach { s =>
        sb.append(s.id).append('\t').append(s.parent).append('\t').append(s.name).append('\t')
          .append(s.start).append('\t').append(s.end).append('\t')
          .append(s.ref.replace('\t', ' ').replace('\n', ' ')).append('\n')
      }
    }
    java.nio.file.Files.writeString(path, sb)
  }
}

/** Minimal JSON rendering for the run report (no JSON library is on the
  * product classpath that the benchmark may rely on). */
object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => str(other.toString)
  }
}
