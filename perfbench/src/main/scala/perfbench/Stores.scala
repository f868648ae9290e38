package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions
import graft.model._
import graft.streaming.StreamingOps

/** The five versioned stores under one directory, fed batch by batch with
  * the arguments the stream gates pass.
  */
final class Stores(spark: SparkSession, dir: Path) {
  import Stores._

  def path(store: String): String = dir.resolve("stores").resolve(store).toString
  def out(store: String): String = dir.resolve("out").resolve(store).toString
  def batchDir(b: Int): Path = dir.resolve("batches").resolve(s"b$b")

  def mergeBatch(b: Int): DataFrame =
    spark.read.schema(MergeSchema).json(batchDir(b).resolve("merge.jsonl").toString)
  def docsBatch(b: Int): DataFrame =
    spark.read.schema(DocSchema).json(batchDir(b).resolve("docs.jsonl").toString)
  def allMerge(batches: Int): DataFrame =
    spark.read.schema(MergeSchema).json(
      (0 until batches).map(b => batchDir(b).resolve("merge.jsonl").toString): _*)
  def allDocs(batches: Int): DataFrame =
    spark.read.schema(DocSchema).json(
      (0 until batches).map(b => batchDir(b).resolve("docs.jsonl").toString): _*)

  /** Commit batch b through the named stores in turn, one span per store. */
  def apply(b: Int, tr: Tracer, names: Seq[String] = Names): Unit = {
    val m = mergeBatch(b)
    val d = docsBatch(b)
    if (names.contains("merge")) tr.span("streaming.merge") {
      StreamingOps.applyMergeBatch(spark, m, b.toLong, MergeSpecs, "seq", path("merge"))
    }
    if (names.contains("dedup")) tr.span("streaming.dedup") {
      StreamingOps.applyDedupBatch(spark, d, b.toLong, "text", "doc_id",
        path("dedup"), out("dedup"), Some(8))
    }
    if (names.contains("cms")) tr.span("streaming.cms") {
      StreamingOps.applyCmsBatch(spark, items(d), b.toLong, col("_it"), path("cms"))
    }
    if (names.contains("hll")) tr.span("streaming.hll") {
      StreamingOps.applyHllBatch(spark, groupItems(d), b.toLong, "source", col("_g"),
        path("hll"))
    }
    if (names.contains("er")) tr.span("streaming.er") {
      StreamingOps.applyErBatch(spark, d.select(col("doc_id"), col("text")), b.toLong,
        "doc_id", "text", shingleSize = 3, thresholdPpm = 500000L, lpaRounds = 4,
        path("er"), out("er"))
    }
  }
}

object Stores {
  val Names: Seq[String] = Seq("merge", "dedup", "cms", "hll", "er")
  /** The stores a timed op commits to. The ER store runs in the traced
    * run only: its 64 Spark jobs per batch (about 6 s on a 4-core box) would make one
    * op about 11 s and put the benchmark past its time budget.
    */
  val OpStores: Seq[String] = Names.filterNot(_ == "er")
  /** Set-up batches: a history batch on empty state, then two warm-up
    * batches against it, whose commits run code paths the first does not.
    * Op latency still falls over a run's first timed batches as the JIT
    * compiles those paths; more warm-up batches flattened that but cost
    * about 4 s of set-up each.
    */
  val SetupBatches: Seq[Int] = 0 until 3

  val MergeSchema: StructType = StructType(Seq(
    StructField("key", LongType), StructField("seq", LongType),
    StructField("status", StringType), StructField("qty", DecimalType(18, 2)),
    StructField("tags", ArrayType(StringType))))

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType), StructField("source", StringType),
    StructField("text", StringType)))

  val MergeSpecs = MergeSpec(
    keyFields = Seq("key"),
    fields = Seq(
      MergeFieldSpec("status", MergeOp.Set),
      MergeFieldSpec("qty", MergeOp.Inc),
      MergeFieldSpec("tags", MergeOp.AddToSet)))

  /** Word 3-shingles, one row each: the CMS item stream cms_stream passes. */
  def items(docs: DataFrame): DataFrame =
    docs.select(explode(TextFunctions.shingles(col("text"), 3)).as("_it"))

  /** (source, distinct word 3-shingle): the HLL stream hll_stream passes. */
  def groupItems(docs: DataFrame): DataFrame =
    docs.select(col("source"),
      explode(array_distinct(TextFunctions.shingles(col("text"), 3))).as("_g"))

  /** Rows of `a` not in `b` plus rows of `b` not in `a`, in one action. */
  def symmetricDiff(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).unionByName(b.exceptAll(a)).count()
}
