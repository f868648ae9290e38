package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** Metric name -> (value, unit). */
final case class Metric(value: Double, unit: String)

/** One closed-loop workload. `setup` builds inputs and stores under its
  * directory; `prepare` makes op i's inputs untimed; `op` is one timed
  * operation and returns the input records it completed; `check` runs
  * after the timed phase and returns every failed output check.
  */
trait Workload {
  def setup(spark: SparkSession, dir: Path, tr: Tracer): Unit
  def prepare(i: Int): Unit = ()
  def op(i: Int, tr: Tracer): Long
  def check(): Seq[String]
  /** Bytes on disk the workload's stores (or, without stores, its
    * outputs) hold after the timed ops.
    */
  def diskBytes: Long
  /** Input properties measured on what the program saw (shares). */
  def properties: Map[String, Double]
  /** Workload-specific traced metrics, from the traced ops' spans. */
  def layerMetrics(spans: Seq[Span], listener: LayerListener, tracedOps: Int): Map[String, Metric]
  /** Untimed, after each op: counts taken once its spans closed. */
  def afterOp(i: Int, traced: Boolean): Unit = ()
  /** The loop runs at least this many ops whatever their latency. */
  def minOps: Int = 1
  /** Optional extra traced pass after the traced ops: stage prefixes,
    * or the ER store and the store lookups.
    */
  def tracedExtras(tr: Tracer): Unit = ()
}

object Workload {
  def create(name: String, seed: Long): Workload = name match {
    case "nifi_flow_batch" => new NifiFlowBatch(seed)
    case "stateful_stream" => new StatefulStream(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def dirFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).count() finally s.close()
    }

  /** Sum of the counters the listener charged to `spans`. */
  def countersOf(spans: Seq[Span], listener: LayerListener): SparkCounters = {
    val c = new SparkCounters
    spans.foreach(s => listener.bySpan.get(s.id).foreach(c += _))
    c
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
}
