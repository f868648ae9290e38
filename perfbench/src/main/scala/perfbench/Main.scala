package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Runs one workload in a closed loop (one client: the next op starts when
  * the previous one returns) and prints one result line.
  *
  * Untraced (`--trace 0`): one set-up, then ops run until their summed
  * latency reaches `--seconds` (or exactly `--ops` ops), then the output
  * checks run.
  *
  * Traced (`--trace 1`): one set-up, then the same loop with every second
  * op traced (span per layer call, a SparkListener and a
  * QueryExecutionListener attached only for that op), so traced and
  * untraced ops interleave and their median ratio is the tracing
  * overhead. Then the workload's extra traced pass, the checks, and the
  * same ops again in a fresh `local[1]` session for the scaling ratio.
  */
object Main {

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean, cores: Int,
      work: Path, results: Path, ops: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cores").toInt, Paths.get(need("work")), Paths.get(need("results")),
      m.getOrElse("ops", "0").toInt)
  }

  def session(cores: Int, slots: Int, work: Path): SparkSession = {
    // the settings graft.Bench measures with, so this measures what users get
    val s = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The latency at the highest percentile with at least ten samples
    * beyond it, with that percentile. Below 40 samples that percentile
    * would sit under p75, which is no tail, so the tail is the maximum
    * (percentile 100).
    */
  def tail(lat: Seq[Double]): (Double, Double) = {
    val s = lat.sorted
    if (s.length < 40) (s.last, 100.0)
    else (s(s.length - 11), 100.0 * (s.length - 10) / s.length)
  }

  final case class Loop(lat: ArrayBuffer[Double], traced: ArrayBuffer[Boolean],
      var records: Long, var attempted: Int, var failed: Int)

  /** The closed loop: ops until `limitOps` ops (if > 0) or until their
    * summed latency reaches `budget` seconds. `traceEvery` > 0 traces the
    * ops with i % traceEvery == 1.
    */
  def loop(w: Workload, tr: Tracer, traceEvery: Int, limitOps: Int,
      budget: Double, attach: () => Unit, detach: () => Unit): Loop = {
    val l = Loop(ArrayBuffer.empty, ArrayBuffer.empty, 0L, 0, 0)
    var i = 0
    val start = System.nanoTime()
    // failing ops record no latency; wall time bounds the loop regardless
    def more: Boolean =
      (limitOps <= 0 || i < limitOps) && (i < w.minOps || l.lat.sum < budget) &&
        (System.nanoTime() - start) / 1e9 < 3 * budget + 60
    while (more) {
      w.prepare(i)
      val traced = traceEvery > 0 && i % traceEvery == 1
      if (traced) { attach(); tr.enabled = true }
      l.attempted += 1
      try {
        val t0 = System.nanoTime()
        val n = tr.op(i)(w.op(i, tr))
        l.lat += (System.nanoTime() - t0) / 1e9
        l.traced += traced
        l.records += n
      } catch {
        case e: Exception =>
          l.failed += 1
          System.err.println(s"[perfbench] op $i failed: $e")
          e.printStackTrace()
      } finally if (traced) { tr.enabled = false; detach() }
      w.afterOp(i, traced)
      i += 1
    }
    l
  }

  /** Heap in use after full GCs, the least of three readings: the
    * ContextCleaner frees broadcast blocks asynchronously after a GC
    * finds them unreachable, so one reading can still count them.
    */
  def heapRetainedMb(): Double =
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  private val started = System.nanoTime()
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1f s: $name")

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] aborted: $e")
          e.printStackTrace()
          3
      }
    System.exit(code)
  }

  def run(o: Opts): Int = {
    Files.createDirectories(o.results)
    var spark = session(o.cores, o.cores, o.work)
    phase("session ready")
    val tr = new Tracer(spark)
    val w = Workload.create(o.workload, o.seed)
    val t0 = System.nanoTime()
    w.setup(spark, o.work.resolve("setup"), tr)
    val setupS = (System.nanoTime() - t0) / 1e9
    phase("set-up done")

    val layers = new LayerListener
    val catalyst = new CatalystListener
    var withCatalyst = true
    def attach(): Unit = {
      spark.sparkContext.addSparkListener(layers)
      if (withCatalyst) spark.listenerManager.register(catalyst)
    }
    def detach(): Unit = {
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(layers)
      if (withCatalyst) spark.listenerManager.unregister(catalyst)
    }
    val main = loop(w, tr, if (o.trace) 2 else 0, o.ops,
      if (o.ops > 0) Double.MaxValue / 4 else o.seconds, () => attach(), () => detach())
    phase(s"${main.lat.size} ops done")
    val heapMb = heapRetainedMb()
    val diskMb = w.diskBytes / 1048576.0
    val opSpans = tr.spans.filter(s => s.name == "op" && s.op >= 0).toVector
    if (o.trace) {
      withCatalyst = false
      attach()
      tr.enabled = true
      try w.tracedExtras(tr) finally { tr.enabled = false; detach() }
    }
    val failures =
      try w.check()
      catch { case e: Exception => e.printStackTrace(); Seq(s"check aborted: $e") }
    failures.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))
    phase("checks done")

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Metric]
    val detail = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val lat = main.lat.toVector
    val (tailV, tailP) = if (lat.nonEmpty) tail(lat) else (0.0, 100.0)
    detail ++= Seq("ops" -> lat.size, "op_s" -> lat, "op_tail_percentile" -> tailP,
      "records" -> main.records, "checks_failed" -> failures)
    w.properties.foreach { case (k, v) => detail("property." + k) = v }

    if (!o.trace) {
      metrics ++= Seq(
        "setup_s" -> Metric(setupS, "s"),
        "records_per_s" -> Metric(main.records / math.max(lat.sum, 1e-9), "1/s"),
        "op_p50_s" -> Metric(Workload.median(lat), "s"),
        "op_tail_s" -> Metric(tailV, "s"),
        "heap_retained_mb" -> Metric(heapMb, "MB"),
        "state_disk_mb" -> Metric(diskMb, "MB"))
    } else {
      val n = math.max(opSpans.size, 1)
      val timedOps = opSpans.map(_.op).toSet
      val ids = tr.spans.filter(s => timedOps(s.op)).map(_.id).toSet
      val c = Workload.countersOf(tr.spans.filter(s => ids(s.id)).toSeq, layers)
      val wallS = opSpans.map(_.seconds).sum
      val activeS = layers.jobActiveMs(ids) / 1e3
      metrics ++= Seq(
        "spark.jobs" -> Metric(c.jobs.toDouble / n, "count"),
        "spark.stages" -> Metric(c.stages.toDouble / n, "count"),
        "spark.tasks" -> Metric(c.tasks.toDouble / n, "count"),
        "spark.exec_cpu_s" -> Metric(c.execCpuNs / 1e9 / n, "s"),
        "spark.exec_run_s" -> Metric(c.execRunMs / 1e3 / n, "s"),
        "spark.exec_gc_s" -> Metric(c.execGcMs / 1e3 / n, "s"),
        "spark.job_active_s" -> Metric(activeS / n, "s"),
        "spark.driver_only_s" -> Metric((wallS - activeS) / n, "s"),
        "spark.slot_busy_ratio" ->
          Metric(c.execRunMs / 1e3 / math.max(activeS * o.cores, 1e-9), "ratio"),
        "spark.shuffle_write_bytes" -> Metric(c.shuffleWrite.toDouble / n, "bytes"),
        "spark.shuffle_read_bytes" -> Metric(c.shuffleRead.toDouble / n, "bytes"),
        "spark.spill_bytes" -> Metric(c.spill.toDouble / n, "bytes"),
        "spark.input_rows" -> Metric(c.inputRows.toDouble / n, "count"),
        "catalyst.analysis_ms" -> Metric(catalyst.phaseMs("analysis").toDouble / n, "ms"),
        "catalyst.optimization_ms" -> Metric(catalyst.phaseMs("optimization").toDouble / n, "ms"),
        "catalyst.planning_ms" -> Metric(catalyst.phaseMs("planning").toDouble / n, "ms"))
      metrics ++= w.layerMetrics(tr.spans.toSeq, layers, opSpans.size)
      val tracedLat = lat.zip(main.traced).collect { case (t, true) => t }
      val plainLat = lat.zip(main.traced).collect { case (t, false) => t }
      metrics("trace.overhead_ratio") =
        Metric(Workload.median(tracedLat) / Workload.median(plainLat), "ratio")
      detail ++= Seq("traced_ops" -> tracedLat.size, "untraced_ops" -> plainLat.size,
        "catalyst_queries" -> catalyst.queries)

      // the same ops again, single-threaded, in a fresh session and set-up
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val single = o.work.resolve("single")
      spark = session(o.cores, 1, single)
      val w1 = Workload.create(o.workload, o.seed)
      w1.setup(spark, single.resolve("setup"), new Tracer(spark))
      val one = loop(w1, new Tracer(spark), 0, lat.size, o.seconds * SingleBudget,
        () => (), () => ()).lat
      // against the same ops of the main loop, untraced ones only, as
      // the single-threaded repeat is untraced
      val paired = one.indices.filterNot(main.traced)
      metrics("scaling.speedup_1_to_n") =
        Metric(paired.map(one).sum / paired.map(lat).sum, "ratio")
      detail ++= Seq("single_ops" -> one.size)
      writeSpans(o, tr.spans.toSeq)
    }
    spark.stop()

    val correct = failures.isEmpty && main.failed == 0
    println("PERFBENCH_DETAIL " + Json.obj(detail.toSeq))
    println("PERFBENCH_RESULT " + Json.obj(Seq(
      "correct" -> correct, "attempted" -> main.attempted, "failed" -> main.failed,
      "metrics" -> Json.Raw(Json.obj(metrics.toSeq.map { case (k, m) =>
        k -> Json.Raw(Json.obj(Seq("value" -> m.value, "unit" -> m.unit)))
      })))))
    if (correct) 0 else 1
  }

  /** The single-threaded repeat measures at most this many times the
    * run's seconds of op latency.
    */
  val SingleBudget = 0.5

  def writeSpans(o: Opts, spans: Seq[Span]): Unit = {
    val p = o.results.resolve(s"spans-${o.workload}-${o.seed}.jsonl")
    Gen.writeLines(p, spans.iterator.map(s => Json.obj(Seq("id" -> s.id, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end, "parent" -> s.parent, "op" -> s.op))))
  }
}

/** Just enough JSON for the result lines. */
object Json {
  final case class Raw(s: String)
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => Gen.jsonStr(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => Gen.jsonStr(other.toString)
  }
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => Gen.jsonStr(k) + ":" + value(v) }.mkString("{", ",", "}")
}
