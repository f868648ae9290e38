package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.{Merge, Profile}
import graft.streaming.StreamingOps

/** One op is one micro-batch committed through the merge, dedup, CMS and
  * HLL stores in turn ([[Stores.OpStores]]). Set-up commits
  * [[Stores.SetupBatches]] so the timed batches run against existing
  * state, which then grows by one order block and one document batch
  * per batch.
  */
final class StatefulStream(seed: Long) extends Workload {
  import StatefulStream._

  private var spark: SparkSession = _
  private var stores: Stores = _
  private var gen: StreamGen = _
  private var dir: Path = _
  /** State sizes after each traced batch: store -> (rows, files, bytes). */
  private val stateAfter = scala.collection.mutable.HashMap.empty[String, (Long, Long, Long)]
  private var dedupInserted = 0L

  def setup(s: SparkSession, d: Path, tr: Tracer): Unit = {
    spark = s
    dir = d
    stores = new Stores(s, d)
    gen = new StreamGen(seed)
    Stores.SetupBatches.foreach { b =>
      gen.writeBatch(stores.batchDir(b))
      stores.apply(b, tr, Stores.OpStores)
    }
  }

  /** Timed op i commits the batch after the set-up batches. */
  private def batchOf(i: Int): Int = i + Stores.SetupBatches.size

  override def prepare(i: Int): Unit = gen.writeBatch(stores.batchDir(batchOf(i)))

  def op(i: Int, tr: Tracer): Long = {
    stores.apply(batchOf(i), tr, Stores.OpStores)
    (gen.lastMergeRows + StreamGen.DocsPerBatch).toLong
  }

  private var lookups: Option[Lookups] = None

  /** The traced run's read path and ER store: the ER store is fed the
    * first [[ErBatches]] batches in order, traced per batch (it is not in
    * the timed op, see [[Stores.OpStores]]); then [[LookupRounds]] rounds
    * of one lookup per kind against the committed stores, after one
    * untimed warm-up lookup per kind.
    */
  override def tracedExtras(tr: Tracer): Unit = {
    val erBatches = math.min(gen.batches, ErBatches)
    (0 until erBatches).foreach(b => stores.apply(b, tr, Seq("er")))
    stateAfter("er") = stateOf("er")
    val lk = new Lookups(spark, gen, stores, seed, erBatches * StreamGen.DocsPerBatch)
    tr.enabled = false
    Lookups.Kinds.foreach(k => lk.run(k, tr, keep = false))
    tr.enabled = true
    for (round <- 0 until LookupRounds; k <- Lookups.Kinds) lk.run(k, tr)
    lookups = Some(lk)
  }

  private def stateOf(st: String): (Long, Long, Long) = {
    val p = java.nio.file.Paths.get(stores.path(st))
    val rows = StreamingOps.readState(spark, stores.path(st)).map(_.count()).getOrElse(0L)
    (rows, Workload.dirFiles(p), Workload.dirBytes(p))
  }

  override def minOps: Int = MinOps

  /** Disk is read after the last op the loop always runs, so it does not
    * depend on how many further batches a faster box completes.
    */
  override def afterOp(i: Int, traced: Boolean): Unit = {
    if (i == MinOps - 1) disk = Workload.dirBytes(dir.resolve("stores"))
    if (traced) Stores.OpStores.foreach(st => stateAfter(st) = stateOf(st))
  }
  private var disk = 0L

  def check(): Seq[String] = {
    val n = gen.batches
    val failures = Seq.newBuilder[String]
    def canonMerge(df: DataFrame): DataFrame = df.select(col("key"), col("status"),
      col("qty").cast(DecimalType(38, 2)).as("qty"), array_sort(col("tags")).as("tags"))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], Stores.MergeSchema)
    val oneShot = Merge.upsertBatch(empty, stores.allMerge(n), Stores.MergeSpecs, "seq").state
    val mergeDiff = Stores.symmetricDiff(
      canonMerge(StreamingOps.readState(spark, stores.path("merge")).get), canonMerge(oneShot))
    if (mergeDiff != 0) failures += s"merge state differs from one upsertBatch in $mergeDiff rows"
    val docs = stores.allDocs(n)
    val cmsDiff = Stores.symmetricDiff(
      StreamingOps.readState(spark, stores.path("cms")).get.select("row", "col", "cnt"),
      Profile.cmsSketch(Stores.items(docs), col("_it")).select("row", "col", "cnt"))
    if (cmsDiff != 0) failures += s"CMS state differs from the whole-input sketch in $cmsDiff cells"
    val hllDiff = Stores.symmetricDiff(
      StreamingOps.readState(spark, stores.path("hll")).get.select("group", "bucket", "m_rho"),
      Profile.hllRegisters(Stores.groupItems(docs), "source", col("_g"))
        .select("group", "bucket", "m_rho"))
    if (hllDiff != 0) failures += s"HLL state differs from the whole-input registers in $hllDiff rows"
    val kept = spark.read.parquet(stores.out("dedup")).select("doc_id").collect()
      .map(_.getString(0)).toSet
    dedupInserted = kept.size.toLong
    val expected = gen.firstDoc.values.toSet
    if (kept != expected)
      failures += s"dedup kept ${kept.size} docs, ${(kept -- expected).size} not first " +
        s"occurrences, ${(expected -- kept).size} first occurrences missing"
    lookups.foreach(lk => failures ++= lk.check())
    failures.result()
  }

  def diskBytes: Long = disk

  def properties: Map[String, Double] = Map(
    "merge.rows_per_key" -> gen.mergeRowsWritten.toDouble / gen.mergeModel.size,
    "near_duplicate_share.planted" -> 2 * StreamGen.CloneShare,
    "near_duplicate_share.seen" ->
      (gen.plantedClones + gen.plantedTruncations).toDouble / gen.offeredDocs,
    "batch_to_state.rows" -> gen.lastMergeRows.toDouble / gen.mergeModel.size,
    "dedup.insert_share" -> dedupInserted.toDouble / gen.offeredDocs,
    "batches" -> gen.batches.toDouble)

  def layerMetrics(spans: Seq[Span], l: LayerListener, tracedOps: Int): Map[String, Metric] =
    Stores.Names.flatMap { st =>
      // ER spans come from the extra pass; its first batch (empty state) is skipped
      val mine =
        if (st == "er") spans.filter(_.name == "streaming.er").drop(1)
        else spans.filter(s => s.name == s"streaming.$st" && s.op >= 0)
      val c = Workload.countersOf(mine, l)
      val (rows, files, bytes) = stateAfter.getOrElse(st, (0L, 0L, 0L))
      Seq(
        s"streaming.$st.apply_s" -> Metric(Workload.median(mine.map(_.seconds)), "s"),
        s"streaming.$st.jobs" -> Metric(c.jobs.toDouble / math.max(mine.size, 1), "count"),
        s"streaming.$st.state_rows" -> Metric(rows.toDouble, "count"),
        s"streaming.$st.state_files" -> Metric(files.toDouble, "count"),
        s"streaming.$st.state_bytes" -> Metric(bytes.toDouble, "bytes"))
    }.toMap + ("streaming.dedup.insert_share" ->
      Metric(dedupInserted.toDouble / gen.offeredDocs, "ratio")) ++
      lookups.map(_.layerMetrics(spans.filter(_.op == -1), l)).getOrElse(Map.empty)
}

object StatefulStream {
  val MinOps = 5
  val ErBatches = 2
  val LookupRounds = 2
}
