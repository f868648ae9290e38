package perfbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Profile
import graft.streaming.StreamingOps

/** Point lookups of small seeded probe sets against committed stores: the
  * read path of the store protocol. Merge keys go through `readState` and
  * a key filter, CMS items through `Profile.cmsEstimates`, HLL groups
  * through `Profile.hllEstimateFromRegisters`, documents through
  * `StreamingOps.erResolve`. About [[Lookups.HitShare]] of the probes are
  * planted hits; every lookup's rows are kept for [[check]].
  *
  * @param erDocs how many of the generator's documents the ER store holds
  */
final class Lookups(spark: SparkSession, gen: StreamGen, stores: Stores, seed: Long, erDocs: Int) {
  import Lookups._

  sealed trait Probe { def size: Int }
  final case class KeyProbe(keys: Seq[Long]) extends Probe { def size: Int = keys.size }
  final case class ItemProbe(items: Seq[String]) extends Probe { def size: Int = items.size }
  final case class GroupProbe(groups: Seq[String]) extends Probe { def size: Int = groups.size }
  /** ER docs: (id, text, id of the stored doc it copies or truncates, if any). */
  final case class DocProbe(docs: Seq[(String, String, Option[String])]) extends Probe {
    def size: Int = docs.size
  }

  private val r = new SplittableRandom(seed * 15485863L + 5L)
  /** Per lookup: kind, probes, collected rows. */
  private val results = ArrayBuffer.empty[(String, Probe, Seq[Row])]

  private def probe(kind: String): Probe = kind match {
    case "merge" =>
      val present = gen.mergeModel.keys.toVector.sorted
      KeyProbe((0 until MergeProbes).map { _ =>
        if (r.nextDouble() < HitShare) present(r.nextInt(present.size))
        else (1L << 40) + r.nextInt(1 << 20)
      }.distinct)
    case "cms" =>
      ItemProbe((0 until CmsProbes).map { _ =>
        if (r.nextDouble() < HitShare) {
          val ws = gen.storedDocs(r.nextInt(gen.storedDocs.size))._2.split(" ")
          val at = r.nextInt(ws.length - 2)
          ws.slice(at, at + 3).mkString(" ")
        } else s"q${Gen.word(r.nextInt(1 << 20))} ${Gen.word(0)} ${Gen.word(1)}"
      }.distinct)
    case "hll" =>
      GroupProbe((0 until HllProbes).map { _ =>
        if (r.nextDouble() < HitShare) "src" + r.nextInt(StreamGen.Sources)
        else "absent" + r.nextInt(100)
      }.distinct)
    case "er" =>
      DocProbe((0 until ErProbes).map { _ =>
        // ids past every stored id: 9 digits starting with 9
        val id = "9" + Gen.padId(r.nextInt(1 << 30).toLong).drop(1)
        if (r.nextDouble() < HitShare) {
          val (sid, text) = gen.storedDocs(r.nextInt(erDocs))
          (id, if (r.nextBoolean()) text else gen.truncate(text), Some(sid))
        } else (id, gen.freshText(r), None)
      })
  }

  /** One lookup of `kind`, in a `lookup.<kind>` span; its rows are kept
    * for the checks unless `keep` is false (warm-up).
    */
  def run(kind: String, tr: Tracer, keep: Boolean = true): Unit = {
    val p = probe(kind)
    val session = spark
    import session.implicits._
    val rows: Seq[Row] = tr.span(s"lookup.$kind") {
      p match {
        case KeyProbe(keys) =>
          StreamingOps.readState(spark, stores.path("merge")).get
            .filter(col("key").isin(keys: _*)).collect().toSeq
        case ItemProbe(items) =>
          Profile.cmsEstimates(StreamingOps.readState(spark, stores.path("cms")).get,
            items.toDF("item")).collect().toSeq
        case GroupProbe(groups) =>
          Profile.hllEstimateFromRegisters(
            StreamingOps.readState(spark, stores.path("hll")).get
              .filter(col("group").isin(groups: _*))).collect().toSeq
        case DocProbe(docs) =>
          StreamingOps.erResolve(spark, docs.map(d => (d._1, d._2)).toDF("doc_id", "text"),
            "doc_id", "text", shingleSize = 3, thresholdPpm = 500000L,
            stores.path("er")).collect().toSeq
      }
    }
    if (keep) results += ((kind, p, rows))
  }

  private def hits(p: Probe, rows: Seq[Row]): Int = p match {
    case KeyProbe(_) | GroupProbe(_) => rows.size
    case ItemProbe(_) => rows.count(_.getAs[Long]("cms_est") > 0)
    case DocProbe(_) => rows.count(_.getAs[Boolean]("matched"))
  }

  def hitShare(kind: String): Double = {
    val mine = results.filter(_._1 == kind)
    val probes = mine.map(_._2.size).sum
    if (probes == 0) 0.0 else mine.map { case (_, p, rows) => hits(p, rows) }.sum.toDouble / probes
  }

  /** Every planted key, frequency, distinct count and clone resolves to its
    * expected value: the generator's merge model, the one-shot batch
    * sketches of everything ingested, and the committed ER labels.
    */
  def check(): Seq[String] = {
    val session = spark
    import session.implicits._
    val failures = Seq.newBuilder[String]
    val docs = stores.allDocs(gen.batches)
    val cmsItems = results.collect { case (_, ItemProbe(items), _) => items }.flatten.distinct.toSeq
    val cmsExpected = Profile.cmsEstimates(Profile.cmsSketch(Stores.items(docs), col("_it")),
        cmsItems.toDF("item")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Stores.items(docs).filter(col("_it").isin(cmsItems: _*)).groupBy("_it").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    val hllExpected = Profile.hllEstimateFromRegisters(
        Profile.hllRegisters(Stores.groupItems(docs), "source", col("_g")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    lazy val labels = StreamingOps.readState(spark, stores.path("er")).get
      .filter(col("kind") === "l").select("id", "label").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    results.zipWithIndex.foreach { case ((kind, p, rows), i) =>
      def fail(msg: String): Unit = failures += s"lookup $i ($kind): $msg"
      p match {
        case KeyProbe(keys) =>
          val got = rows.map(r => r.getAs[Long]("key") -> r).toMap
          keys.foreach { k =>
            (gen.mergeModel.get(k), got.get(k)) match {
              case (None, None) =>
              case (Some((status, cents, tags)), Some(row)) =>
                val qty = row.getAs[java.math.BigDecimal]("qty")
                val rowTags = row.getSeq[String](row.fieldIndex("tags")).toSet
                if (row.getAs[String]("status") != status ||
                    qty.movePointRight(2).longValueExact() != cents || rowTags != tags)
                  fail(s"key $k resolved to ${row.mkString(",")}, expected $status/$cents/$tags")
              case (want, have) => fail(s"key $k: expected $want, got $have")
            }
          }
        case ItemProbe(items) =>
          val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
          items.foreach { it =>
            val est = got.getOrElse(it, -1L)
            if (est != cmsExpected.getOrElse(it, -2L) || est < exact(it))
              fail(s"item $it estimate $est, expected ${cmsExpected.get(it)} >= ${exact(it)}")
          }
        case GroupProbe(groups) =>
          val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
          groups.foreach { g =>
            if (got.get(g) != hllExpected.get(g))
              fail(s"group $g estimate ${got.get(g)}, expected ${hllExpected.get(g)}")
          }
        case DocProbe(ds) =>
          val got = rows.map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2))).toMap
          ds.foreach { case (id, _, copyOf) =>
            val want = copyOf match {
              case Some(sid) => (labels(sid), true)
              case None => (id, false)
            }
            if (!got.get(id).contains(want)) fail(s"doc $id resolved to ${got.get(id)}, expected $want")
          }
      }
    }
    failures.result()
  }

  /** Per kind: median latency and jobs of the lookups in `spans`. */
  def layerMetrics(spans: Seq[Span], l: LayerListener): Map[String, Metric] =
    Kinds.flatMap { k =>
      val mine = spans.filter(_.name == s"lookup.$k")
      val c = Workload.countersOf(mine, l)
      Seq(
        s"lookup.$k.latency_s" -> Metric(Workload.median(mine.map(_.seconds)), "s"),
        s"lookup.$k.jobs" -> Metric(c.jobs.toDouble / math.max(mine.size, 1), "count"),
        s"lookup.$k.hit_share" -> Metric(hitShare(k), "ratio"))
    }.toMap
}

object Lookups {
  val Kinds: Seq[String] = Seq("merge", "cms", "hll", "er")
  /** A stress point: the gates probe hits only; misses are planted so
    * the miss path runs.
    */
  val HitShare = 0.8
  /** A stress point: no gate looks up merge keys. */
  val MergeProbes = 32
  /** cms_stream estimates its ten most frequent items. */
  val CmsProbes = 10
  /** hll_stream estimates all 20 sources. */
  val HllProbes = 20
  /** er_serve resolves 20 clones and 20 truncations. */
  val ErProbes = 40
}
