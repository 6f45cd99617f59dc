package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Run-wide state shared by the phases: the session, the span list,
  * operation accounting and the output checks.
  *
  * Every timed operation goes through [[op]], which counts it as
  * attempted, catches and counts a failure (never retried), and
  * records its span. In a traced run it also tags the operation's
  * Spark jobs with a job group and records Hadoop `file:` I/O deltas. */
final class Ctx(val spark: SparkSession, val traced: Boolean,
    val seed: Long, val cpus: Int, val work: String) {

  val spans = ArrayBuffer[Map[String, Any]]()
  val checks = ArrayBuffer[Map[String, Any]]()
  val errors = ArrayBuffer[String]()
  val samples = scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  val values = scala.collection.mutable.LinkedHashMap[String, Any]()
  var attempted = 0L
  var failed = 0L
  private var seq = 0

  /** The host-speed probe, a sidecar process; [[close]] ends it. */
  private val probe = new HostProbe(cpus)

  /** One host-speed sample, taken between operations. */
  def probeHost(): Unit = sample("host_probe_ms", probe.sample())

  def close(): Unit = probe.close()

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer()) += v

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val d = if (ok) "" else detail
    checks += Map("name" -> name, "ok" -> ok, "detail" -> d)
    if (!ok) System.err.println(s"CHECK FAILED $name: $d")
  }

  /** Record a span that is not an operation (a generation, setup). */
  def span(layer: String, cls: String, kind: String, startMs: Double,
      endMs: Double, attrs: Map[String, Any] = Map.empty): Unit = {
    seq += 1
    spans += Map("id" -> seq, "layer" -> layer, "cls" -> cls, "kind" -> kind,
      "group" -> "", "start_ms" -> startMs, "end_ms" -> endMs,
      "ok" -> true) ++ attrs
  }

  /** Run one timed operation. Returns None when it failed. */
  def op[T](layer: String, cls: String, kind: String,
      attrs: => Map[String, Any] = Map.empty)(body: => T): Option[T] = {
    seq += 1
    val id = seq
    val group = s"$layer/$cls/$id"
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup(group, cls, interruptOnCancel = false)
    val fs0 = if (traced) JvmStats.fsBytes else null
    attempted += 1
    val t0 = Clock.nowMs
    val r = try Some(body) catch {
      case e: Throwable =>
        failed += 1
        errors += s"$cls#$id: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(500)
        System.err.println(s"OPERATION FAILED ${errors.last}")
        None
    }
    val t1 = Clock.nowMs
    val io = if (traced) {
      sc.clearJobGroup()
      val fs1 = JvmStats.fsBytes
      Map("fs_bytes_read" -> (fs1._1 - fs0._1),
        "fs_bytes_written" -> (fs1._2 - fs0._2))
    } else Map.empty[String, Any]
    spans += Map("id" -> id, "layer" -> layer, "cls" -> cls, "kind" -> kind,
      "group" -> (if (traced) group else ""), "start_ms" -> t0,
      "end_ms" -> t1, "ok" -> r.isDefined) ++ io ++ attrs
    r
  }

  /** Attach attributes to the most recent span (e.g. rows written,
    * known only after the operation returned). */
  def annotateLast(attrs: Map[String, Any]): Unit =
    if (spans.nonEmpty) spans(spans.size - 1) = spans.last ++ attrs
}
