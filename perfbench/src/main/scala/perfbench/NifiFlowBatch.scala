package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Pipeline
import graft.functions.TypedAttrs
import graft.model._
import graft.operators.{Binning, SecurityMarking}
import graft.sources.SourcesSinks

/** The stateless processor chain over one file of FlowFile attribute
  * records: read, typed projection, success route, security marking,
  * binning with the deferred count, bin sink. One op is one pass.
  */
final class NifiFlowBatch(seed: Long) extends Workload {
  import NifiFlowBatch._

  private var spark: SparkSession = _
  private var input: String = _
  private var output: String = _
  private var outDir: Path = _
  private var plan: FlowPlan = _
  private var prefixTimes = Vector.empty[Vector[Double]]

  def setup(s: SparkSession, dir: Path, tr: Tracer): Unit = {
    spark = s
    input = dir.resolve("attrs.jsonl").toString
    outDir = dir.resolve("bins")
    output = outDir.toString
    plan = FlowGen.write(dir.resolve("attrs.jsonl"), Records, seed)
    // warm-up passes: codegen, file listing caches and the JIT, which
    // otherwise keeps speeding ops up through the first ten of a run
    (1 to WarmUpPasses).foreach(k => op(-k, tr))
  }

  /** The chain up to stage `upTo` (1 = read ... 5 = bin and count). */
  private def chain(tr: Tracer, upTo: Int): DataFrame = {
    val read = tr.span("sources.read_attrs") {
      SourcesSinks.readAttributeRecords(spark, input)
    }
    if (upTo == 1) return read
    val typed = tr.span("functions.typed_projection") {
      TypedAttrs.project(read, "attributes", Projection)
    }
    if (upTo == 2) return typed
    val routed = tr.span("engine.route")(Pipeline.route(Route.Success)(typed))
    if (upTo == 3) return routed
    val marked = tr.span("operators.security_marking") {
      val c = SecurityMarking.classification(col("marking"), Security)
      routed.withColumn("marking_class", concat_ws("|",
        c.getField("levels"), c.getField("compartments"),
        c.getField("releasabilities"), c.getField("disseminationControls")))
    }
    if (upTo == 4) return marked
    tr.span("operators.bin_and_count")(Binning.binAndCount(marked, Binners))
  }

  def op(i: Int, tr: Tracer): Long = {
    val bins = chain(tr, 5)
    tr.span("sources.write_bins")(SourcesSinks.writeBinRecords(bins, output))
    plan.records
  }

  /** Cumulative prefixes, each forced by a noop write; a stage's self
    * time is the difference between consecutive prefixes.
    */
  override def tracedExtras(tr: Tracer): Unit = {
    prefixTimes = (0 until PrefixRounds).map { _ =>
      (1 to 6).map { k =>
        val t0 = System.nanoTime()
        tr.span(s"prefix.$k") {
          if (k < 6) chain(tr, k).write.mode("overwrite").format("noop").save()
          else op(-1, tr)
        }
        (System.nanoTime() - t0) / 1e9
      }.toVector
    }.toVector
  }

  private var routeCounts = Map.empty[String, Long]
  private var binSum = 0L
  private var binNames = 0L

  def check(): Seq[String] = {
    routeCounts = TypedAttrs.project(SourcesSinks.readAttributeRecords(spark, input),
        "attributes", Projection)
      .groupBy(Route.RouteCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val written = spark.read.json(output)
    val row = written.agg(sum("count"), count(lit(1))).collect()(0)
    binSum = row.getLong(0)
    binNames = row.getLong(1)
    val ok = routeCounts.getOrElse(Route.Success, 0L)
    val failed = routeCounts.getOrElse(Route.Failure, 0L)
    Seq(
      (ok + failed == plan.records) ->
        s"success $ok + failure $failed != input ${plan.records}",
      (failed == plan.malformed) -> s"failure $failed != planted malformed ${plan.malformed}",
      (binSum == plan.expectedBins) ->
        s"sum of bin counts $binSum != bins of successful records ${plan.expectedBins}"
    ).collect { case (false, msg) => msg }
  }

  def diskBytes: Long = Workload.dirBytes(outDir)

  def properties: Map[String, Double] = Map(
    "malformed_share.planted" -> FlowGen.MalformedShare,
    "malformed_share.seen" ->
      routeCounts.getOrElse(Route.Failure, 0L).toDouble / plan.records,
    "categories" -> FlowGen.Categories.toDouble,
    "bins.distinct" -> binNames.toDouble)

  def layerMetrics(spans: Seq[Span], l: LayerListener, tracedOps: Int): Map[String, Metric] = {
    val med = (0 until 6).map(k => Workload.median(prefixTimes.map(_(k))))
    val self = med.indices.map(k => if (k == 0) med(0) else med(k) - med(k - 1))
    val names = Seq("sources.read_attrs_s", "functions.typed_projection_s", "engine.route_s",
      "operators.security_marking_s", "operators.bin_and_count_s", "sources.write_bins_s")
    names.zip(self).map { case (n, v) => n -> Metric(v, "s") }.toMap ++ Map(
      "functions.failure_share" ->
        Metric(routeCounts.getOrElse(Route.Failure, 0L).toDouble / plan.records, "ratio"),
      "operators.bins_per_record" ->
        Metric(binSum.toDouble / routeCounts.getOrElse(Route.Success, 1L), "ratio"))
  }
}

object NifiFlowBatch {
  /** The events table at sf0.1, the scale graft.Bench runs the bin gates at. */
  val Records = 100000
  val WarmUpPasses = 4
  val PrefixRounds = 3

  val Projection = TypedProjection(
    strings = Seq("name", "category", "marking"),
    booleans = Seq("active"),
    ints = Seq("id", "count"),
    doubles = Seq("score", "lat", "lon"),
    epochMillisDates = Seq("ts"),
    doubleArraySums = Seq("readings"))

  val Security = SecurityConfig(
    levelsToConvertTo = Seq("ALPHA", "BRAVO", "CHARLIE"),
    levelsCanReceive = Seq("ALPHA", "BRAVO", "CHARLIE"),
    abbreviatedLevelsCanReceive = Seq("A", "B", "C"),
    compartments = Seq("CMPA", "CMPB"),
    disseminationControls = Seq("DCA", "DCB"),
    releasabilities = Seq("XX", "YY"),
    delim = "_")

  val Binners: Seq[BinnerSpec] = Seq(
    DateBinner("time", "ts", DateGranularity.DAY),
    LiteralBinner("cat", "category"),
    NumericBinner("score", "score", 2),
    GeoTileBinner("geo", "lat", "lon", 4),
    LiteralBinner("mark", "marking_class"),
    NumericBinner("rsum", "readings", 1),
    MergedBinner("daycat", Seq("time", "cat")))
}
