package graft.perfbench

import graft.builder.{Bm25IndexBuilder, BuildReport, DedupBuilder, GroupBuilder, MapBuilder}
import graft.store.{ParquetStore, Store}
import graft.streaming.StreamingBuilder
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Times of one rebuild round (steps 2-6), in ms, and the builder reports. */
final case class RoundResult(ms: Double, deltaRows: Int, deltaBytes: Long,
                             reports: Map[String, BuildReport])

/** The incremental pipeline under test, driven only through graft's public
  * entry points:
  *
  *  1. a delta parquet file lands in `landing/`;
  *  2. `StreamingBuilder.runOnce` (AvailableNow, checkpointed) upserts it
  *     into the `source` ParquetStore (delta writes);
  *  3. `MapBuilder.columns` writes `clean` (whitespace-normalised lower-case
  *     text plus a token count);
  *  4. `DedupBuilder` (minhash, persisted signature index) writes `canon`;
  *  5. `Bm25IndexBuilder` writes the postings and the stats row;
  *  6. `GroupBuilder` by `source` writes `groups`.
  *
  * `steps` selects which of the builder steps 3-6 run (`map`, `dedup`,
  * `bm25`, `group`); step 2 always runs.
  *
  * `source` uses delta writes (merge-on-read); every other store the
  * default version rewrite. */
final class Pipeline(spark: SparkSession, val dir: String, val steps: Seq[String], tr: Tracer) {
  private val landing = s"$dir/landing"
  private val staging = s"$dir/staging"
  private val checkpoint = s"$dir/checkpoint"
  Files.createDirectories(Paths.get(landing))
  Files.createDirectories(Paths.get(staging))

  /** Store roots by name, for the outside-the-program file counters. */
  val roots: Map[String, String] = Seq("source", "clean", "canon", "dedup_index",
    "postings", "stats", "groups").map(n => n -> s"$dir/stores/$n").toMap
  /** Stores written with merge-on-read deltas. Only `source`: delta-mode
    * `clean` and indexes measured the same round time and half the read
    * throughput (each read merges the deltas). */
  val deltaStores: Seq[String] = Seq("source")

  private def store(name: String, key: String, lu: String): Store = {
    val s = new ParquetStore(spark, roots(name), key, lu,
      deltaWrites = deltaStores.contains(name))
    if (tr.enabled) new TracedStore(s, roots(name), tr) else s
  }

  /** The program's own store behind a tracing wrapper. */
  def raw(s: Store): Store = s match {
    case t: TracedStore => t.inner
    case other => other
  }

  val source: Store = store("source", "doc_id", "last_updated")
  val clean: Store = store("clean", "doc_id", "last_updated")
  val canon: Store = store("canon", "doc_id", "last_updated")
  val dedupIndex: Store = store("dedup_index", "id", "cluster")
  val postings: Store = store("postings", "id", "term")
  val stats: Store = store("stats", "sid", "sid")
  val groups: Store = store("groups", "gid", "last_updated")

  val bm25 = new Bm25IndexBuilder(clean, postings, stats, "text")

  private var landed = 0

  /** Step 1: write `rows` as one parquet file and move it into `landing/`
    * (a rename, so the streaming source never lists a half-written file).
    * Returns the file's size in bytes. */
  def land(rows: Seq[org.apache.spark.sql.Row]): Long = {
    val name = f"delta-$landed%05d.parquet"
    Corpus.write(rows, s"$staging/$name")
    val dest = Paths.get(landing, name)
    Files.move(Paths.get(staging, name), dest, StandardCopyOption.ATOMIC_MOVE)
    landed += 1
    Files.size(dest)
  }

  def cleanText(df: DataFrame): DataFrame =
    df.withColumn("text", lower(trim(regexp_replace(col("text"), "\\s+", " "))))
      .withColumn("n_tokens", size(split(col("text"), " ")))

  /** Steps 2-6 over whatever has landed since the last call. */
  def rebuild(): Map[String, BuildReport] = {
    tr.span("streaming.ingest") {
      new StreamingBuilder(spark.readStream.schema(Corpus.Schema).parquet(landing),
        source, checkpoint = Some(checkpoint)).runOnce()
    }
    def builder(name: String): BuildReport = name match {
      case "map" => MapBuilder.columns(source, clean, cleanText).run()
      case "dedup" => new DedupBuilder(clean, canon, "text", "minhash",
        indexStore = Some(dedupIndex)).run()
      case "bm25" => bm25.run()
      case "group" => new GroupBuilder(clean, groups, Seq("source"),
        Seq(count(lit(1)).alias("n_docs"), round(avg(col("score")), 4).alias("mean_score"))).run()
    }
    steps.map(name => name -> tr.spanWith(s"builder.$name")(builder(name),
      (r: BuildReport) => Map("processed" -> r.processed.toDouble))).toMap
  }

  /** One round: land `rows`, then steps 2-6, timed from the landing. */
  def runRound(rows: Seq[org.apache.spark.sql.Row]): RoundResult = {
    val bytes = land(rows)
    val t0 = System.nanoTime()
    val reports = rebuild()
    RoundResult((System.nanoTime() - t0) / 1e6, rows.size, bytes, reports)
  }
}
