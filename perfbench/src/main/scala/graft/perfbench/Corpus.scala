package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.sql.Timestamp
import scala.util.Random

/** Sizes of the generated corpus and of each round's delta. */
case class CorpusSize(docs: Int, tokens: Int, vocab: Int, sources: Int,
                      dupShare: Double, rewriteShare: Double, addShare: Double) {
  def rewritesPerRound: Int = (docs * rewriteShare).round.toInt
  def addsPerRound: Int = (docs * addShare).round.toInt
}

/** Zipf(s = 1) sampler over ranks `0 until n` by inverse CDF. */
final class Zipf(n: Int) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / (i + 1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(rnd: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Seeded document corpus and its per-round deltas. Every value is drawn
  * from one `Random(seed)`, so a seed fixes the initial corpus and the
  * whole sequence of deltas; graft only ever sees the parquet files this
  * writes.
  *
  * Near-duplicate families: `dupShare` of the initial docs are copies of
  * another doc with two tokens replaced, so the minhash dedup has real
  * clusters to find. A round rewrites `rewriteShare` of the existing docs
  * and adds `addShare` new docs, a third of either into near-duplicates of
  * another doc; every row of round `r` carries `last_updated` later than
  * every row before it. */
final class Corpus(seed: Long, val size: CorpusSize) {
  import Corpus._

  private val rnd = new Random(seed)
  private val words: Array[String] = {
    val syll = Array("ka", "lo", "mi", "ne", "ru", "ta", "shi", "vo", "pe",
      "zu", "an", "el", "or", "is", "um", "da", "gi", "ho", "ja", "we")
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < size.vocab)
      seen += Seq.fill(2 + rnd.nextInt(3))(syll(rnd.nextInt(syll.length))).mkString
    rnd.shuffle(seen.toVector).toArray
  }
  private val wordZipf = new Zipf(size.vocab)
  private val sourceZipf = new Zipf(size.sources)
  private val sourceNames = Array.tabulate(size.sources)(i => f"site$i%03d.example.org")

  /** Current text, and the fixed lang and source, of every doc id (ids
    * are 1-based and dense). A rewrite changes a doc's text, score and
    * `last_updated`, never its lang or source: a doc is one page of one
    * site. */
  private val texts = scala.collection.mutable.ArrayBuffer[String]()
  private val langs = scala.collection.mutable.ArrayBuffer[String]()
  private val sources = scala.collection.mutable.ArrayBuffer[String]()
  private var round = 0

  private def freshText(): String =
    Array.fill(size.tokens)(words(wordZipf.sample(rnd))).mkString(" ")

  private def nearDupOf(text: String): String = {
    val toks = text.split(' ')
    for (_ <- 0 until 2) toks(rnd.nextInt(toks.length)) = words(wordZipf.sample(rnd))
    toks.mkString(" ")
  }

  private def lu(r: Int): Timestamp =
    new Timestamp(Epoch + r * 86400000L + rnd.nextInt(86400000))

  private def newDoc(text: String): Unit = {
    texts += text
    langs += Langs(rnd.nextInt(Langs.length))
    sources += sourceNames(sourceZipf.sample(rnd))
  }

  private def row(i: Int, r: Int): Row =
    Row(i + 1L, texts(i), langs(i), sources(i),
      math.round(rnd.nextDouble() * 10000) / 10000.0, lu(r))

  /** The initial corpus (round 0). */
  def initial(): Seq[Row] = {
    require(texts.isEmpty, "initial() runs once")
    val nDup = (size.docs * size.dupShare).toInt
    val drafts = scala.collection.mutable.ArrayBuffer[String]()
    for (i <- 0 until size.docs)
      drafts += (if (i >= size.docs - nDup) nearDupOf(drafts(rnd.nextInt(size.docs - nDup)))
                 else freshText())
    // shuffle which ids carry the near-dups so families spread over the key range
    rnd.shuffle(drafts.toVector).foreach(newDoc)
    texts.indices.map(row(_, 0))
  }

  /** A third of delta texts are near-duplicates of an existing doc. */
  private def deltaText(): String =
    if (rnd.nextInt(3) == 0) nearDupOf(texts(rnd.nextInt(texts.size))) else freshText()

  /** The next round's delta: rewrites of existing docs plus new docs. */
  def nextDelta(): Seq[Row] = {
    round += 1
    val ids = scala.collection.mutable.LinkedHashSet[Int]()
    while (ids.size < size.rewritesPerRound) ids += rnd.nextInt(texts.size)
    val rewrites = ids.toSeq.map { i =>
      texts(i) = deltaText()
      row(i, round)
    }
    val adds = (0 until size.addsPerRound).map { _ =>
      newDoc(deltaText())
      row(texts.size - 1, round)
    }
    rewrites ++ adds
  }

  /** Ids `1..initialDocs` in a seeded order; a Zipf draw over this order
    * gives the skewed key-lookup stream. */
  def keyOrder(r: Random): Array[Long] =
    r.shuffle((1L to size.docs.toLong).toVector).toArray

  /** A text query of two mid-frequency words (Zipf ranks 100-599), so
    * every query probes posting lists of similar length. */
  def query(r: Random): String = Seq.fill(2)(words(100 + r.nextInt(500))).mkString(" ")
}

object Corpus {
  val Langs: Array[String] = Array("en", "de", "fr", "es")
  /** 2024-01-01T00:00:00Z, independent of the JVM's zone. */
  val Epoch: Long = 1704067200000L
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("score", DoubleType),
    StructField("last_updated", TimestampType)))

  private val ParquetSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message doc {
      |  required int64 doc_id;
      |  optional binary text (STRING);
      |  optional binary lang (STRING);
      |  optional binary source (STRING);
      |  optional double score;
      |  optional int64 last_updated (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  /** Write `rows` (in [[Schema]] order) as one parquet file at `path`. The
    * file is written with parquet-mr directly, not by a Spark job, so
    * generating inputs runs no job of the engine under test. */
  def write(rows: Seq[Row], path: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val factory = new SimpleGroupFactory(ParquetSchema)
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(ParquetSchema).withConf(new org.apache.hadoop.conf.Configuration())
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { r =>
      writer.write(factory.newGroup()
        .append("doc_id", r.getLong(0)).append("text", r.getString(1))
        .append("lang", r.getString(2)).append("source", r.getString(3))
        .append("score", r.getDouble(4))
        .append("last_updated", r.getAs[Timestamp](5).getTime * 1000L)) // ms precision
    } finally writer.close()
  }
}
