package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable

object Gen {

  /** Lowercase pseudo-word for a vocabulary rank: the same word for the
    * same rank under every seed, so planted items are nameable.
    */
  def word(rank: Int): String = {
    val syll = Array("ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zu", "pi",
      "do", "ga", "he", "ji", "bo", "fu")
    val sb = new StringBuilder
    var x = rank + 16
    while (x > 0) { sb ++= syll(x & 15); x >>>= 4 }
    sb.toString
  }

  def padId(id: Long): String = fmt("%09d", id)

  /** Locale-independent formatting: generated numbers must parse. */
  def fmt(pattern: String, args: Any*): String =
    String.format(java.util.Locale.ROOT, pattern, args.map(_.asInstanceOf[AnyRef]): _*)

  def writeLines(path: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(path.getParent)
    val w = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(path), StandardCharsets.UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  def jsonStr(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}

/** What the NiFi-flow generator planted, for the output checks. */
final case class FlowPlan(records: Long, malformed: Long, expectedBins: Long)

/** FlowFile attribute records: one jsonl object of string attributes per
  * line. The attribute values follow the repo's test tables that the
  * NiFi-surface gates feed the same functions (see baseline.json,
  * input_derivation); the malformed numbers are a planted stress point.
  */
object FlowGen {
  import Gen.fmt
  /** Planted so the failure route carries rows; no gate input holds
    * malformed attributes, so this share is a stress point, not measured
    * traffic.
    */
  val MalformedShare = 0.02
  /** events.event_type: five types, uniform. */
  val Categories = 5
  /** events.ts: uniform over 30 days from 2024-01-01. */
  val StartMs = 1704067200000L
  val Days = 30
  /** events.value: exponential, mean 50, two decimals. */
  val ScoreMean = 50.0
  /** customer.c_custkey at sf0.1: the typed_projection gate's int. */
  val CountMax = 15000
  /** The security_classification gate's four markings, uniform. */
  val Markings = Array("A_CMPA_XX", "BRAVO_CMPB", "C_DCA_YY", "JUNKX")

  /** Bins one successful record yields, mirroring the benchmark's binner
    * list: time DAY (3), category (1), score L0..L2 (3), geo z0..z4 (5),
    * marking class (1), readings sum L0..L1 (2), day x category (3).
    */
  val BinsPerRecord = 3 + 1 + 3 + 5 + 1 + 2 + 3

  def write(path: Path, n: Int, seed: Long): FlowPlan = {
    val r = new SplittableRandom(seed * 7919L + 11L)
    var malformed = 0L
    val lines = Iterator.tabulate(n) { i =>
      val bad = r.nextDouble() < MalformedShare
      var count = (1 + r.nextInt(CountMax)).toString
      var score = fmt("%.2f", -ScoreMean * math.log(1.0 - r.nextDouble()))
      var ts = (StartMs + (r.nextDouble() * Days * 86400000L).toLong).toString
      // SparkEntry.withGeo's ranges: lat [-80, 80), lon [-180, 180)
      var lat = fmt("%.5f", r.nextDouble() * 160.0 - 80.0)
      val lon = fmt("%.5f", r.nextDouble() * 360.0 - 180.0)
      if (bad) {
        malformed += 1
        r.nextInt(4) match {
          case 0 => count = count + "x"
          case 1 => score = "n/a"
          case 2 => ts = ts.dropRight(2) + "zz"
          case _ => lat = "12.3.4"
        }
      }
      // the attr_array_sums gate's readings: [l_quantity, l_tax]
      val readings = fmt("[%d,%.2f]", 1 + r.nextInt(50), r.nextInt(9) / 100.0)
      val sb = new StringBuilder(256)
      sb ++= "{\"id\":\"" ++= i.toString ++= "\",\"name\":\"flow-" ++= i.toString
      sb ++= "\",\"category\":\"cat" ++= r.nextInt(Categories).toString
      sb ++= "\",\"marking\":\"" ++= Markings(r.nextInt(Markings.length))
      sb ++= "\",\"active\":\"" ++= (if (r.nextBoolean()) "true" else "no")
      sb ++= "\",\"count\":\"" ++= count ++= "\",\"ts\":\"" ++= ts
      sb ++= "\",\"score\":\"" ++= score ++= "\",\"lat\":\"" ++= lat ++= "\",\"lon\":\"" ++= lon
      sb ++= "\",\"readings\":\"" ++= readings ++= "\"}"
      sb.toString
    }
    Gen.writeLines(path, lines)
    FlowPlan(n.toLong, malformed, (n - malformed) * BinsPerRecord)
  }
}

/** Keyed records and documents for the five versioned stores, batch by
  * batch, shaped like the inputs the stream gates pass (see
  * baseline.json, input_derivation).
  *
  * Keyed records follow lineitem: an order has 1 to 7 lines, and batch b
  * carries lines 1-2 of order block b and lines 3-7 of block b - 1, the
  * split merge_stream_versioned makes on l_linenumber. So every batch
  * inserts new keys and updates the previous batch's, and the state
  * grows by one block per batch.
  *
  * Documents follow the documents table: 10 to 100 words from a
  * 30-word vocabulary, uniform, sources round-robin. Of each batch,
  * [[StreamGen.CloneShare]] are byte-identical clones of an earlier
  * document and as many are truncations of one to its first 80% of
  * words, as er_stream plants them.
  */
final class StreamGen(seed: Long) {
  import StreamGen._
  private val r = new SplittableRandom(seed * 104729L + 3L)
  private var nextSeq = 0L
  private var nextDoc = 0L
  /** Lines 3-7 of the previous block: (key, line count). */
  private var pending = Vector.empty[(Long, Int)]

  /** Merge model: key -> (status, qty cents sum, tag set). */
  val mergeModel = mutable.HashMap.empty[Long, (String, Long, Set[String])]
  /** First document id per normalized text, in arrival order. */
  val firstDoc = mutable.LinkedHashMap.empty[String, String]
  /** Stored documents: id -> normalized text. */
  val storedDocs = mutable.ArrayBuffer.empty[(String, String)]
  var mergeRowsWritten = 0L
  var lastMergeRows = 0
  var offeredDocs = 0L
  var plantedClones = 0L
  var plantedTruncations = 0L
  var batches = 0

  def freshText(rr: SplittableRandom): String =
    (0 until (MinWords + rr.nextInt(MaxWords - MinWords + 1)))
      .map(_ => Gen.word(rr.nextInt(Vocabulary))).mkString(" ")

  /** The first 80% of the words, as er_stream truncates its clones. */
  def truncate(text: String): String = {
    val ws = text.split(" ")
    ws.take(math.max(ws.length * 4 / 5, 1)).mkString(" ")
  }

  private def mergeLine(key: Long): String = {
    val status = Statuses(r.nextInt(Statuses.length))
    val cents = (1 + r.nextInt(50)) * 100L
    val tag = Tags(r.nextInt(Tags.length))
    val seq = nextSeq
    nextSeq += 1
    val prev = mergeModel.get(key)
    mergeModel(key) = (status, prev.map(_._2).getOrElse(0L) + cents,
      prev.map(_._3).getOrElse(Set.empty[String]) + tag)
    s"""{"key":$key,"seq":$seq,"status":"$status","qty":${cents / 100}.00,"tags":["$tag"]}"""
  }

  /** Write batch files `merge.jsonl` and `docs.jsonl` under dir. */
  def writeBatch(dir: Path): Unit = {
    val block = (0 until OrdersPerBatch).map { j =>
      (batches.toLong * OrdersPerBatch + j, 1 + r.nextInt(MaxLines))
    }
    val mergeLines =
      block.flatMap { case (k, n) => (1 to math.min(n, 2)).map(_ => mergeLine(k)) } ++
        pending.flatMap { case (k, n) => (3 to n).map(_ => mergeLine(k)) }
    pending = block.toVector
    lastMergeRows = mergeLines.size
    mergeRowsWritten += mergeLines.size
    Gen.writeLines(dir.resolve("merge.jsonl"), mergeLines.iterator)
    val earlier = storedDocs.size
    val docLines = (0 until DocsPerBatch).map { k =>
      val id = Gen.padId(nextDoc)
      val u = r.nextDouble()
      val text =
        if (earlier > 0 && u < CloneShare) {
          plantedClones += 1
          storedDocs(r.nextInt(earlier))._2
        } else if (earlier > 0 && u < 2 * CloneShare) {
          plantedTruncations += 1
          truncate(storedDocs(r.nextInt(earlier))._2)
        } else freshText(r)
      if (!firstDoc.contains(text)) firstDoc(text) = id
      storedDocs += id -> text
      offeredDocs += 1
      val src = "src" + (nextDoc % Sources)
      nextDoc += 1
      s"""{"doc_id":"$id","source":"$src","text":${Gen.jsonStr(text)}}"""
    }
    Gen.writeLines(dir.resolve("docs.jsonl"), docLines.iterator)
    batches += 1
  }
}

object StreamGen {
  /** lineitem at sf0.001: 1473 orders, 6000 lines. */
  val OrdersPerBatch = 1500
  val MaxLines = 7
  /** l_returnflag and l_linestatus values. */
  val Statuses = Array("A", "N", "R")
  val Tags = Array("O", "F")
  /** dedup_stream_replayed's batches: 1000 documents each. */
  val DocsPerBatch = 1000
  val Vocabulary = 30
  val MinWords = 10
  val MaxWords = 100
  val Sources = 20
  /** er_stream: 20 clones and 20 truncations per 1000 base documents. */
  val CloneShare = 0.02
}
