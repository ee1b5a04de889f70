package graft.perfbench

import graft.api.{QueryOperator, ReadResource, SearchResource}
import graft.builder.Bm25IndexBuilder
import graft.query.QueryParams
import graft.store.Store
import org.apache.spark.sql.{DataFrame, Encoder, Row}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** What a ParquetStore root holds, read from outside the program: the
  * `_current` manifest (`v_n` or `v_n;d_1,…`) and the files under it. */
object StoreFiles {
  /** (base version, delta dirs) named by `_current`; ("", 0) when absent. */
  def manifest(root: String): (String, Int) = {
    val p = Paths.get(root, "_current")
    if (!Files.exists(p)) ("", 0)
    else {
      val m = scala.util.Try(Files.readString(p).trim).getOrElse("")
      val halves = m.split(";", 2)
      (halves(0), if (halves.length < 2 || halves(1).isEmpty) 0 else halves(1).split(",").length)
    }
  }

  /** Every regular file under `root` with its size. */
  def files(root: String): Map[String, Long] = {
    val r = Paths.get(root)
    if (!Files.exists(r)) return Map.empty
    val walk = Files.walk(r)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .flatMap(p => scala.util.Try(p.toString -> Files.size(p)).toOption).toMap
    catch { case _: java.io.UncheckedIOException => Map.empty } // a dir GC'd mid-walk
    finally walk.close()
  }

  def liveBytes(root: String): Long = files(root).values.sum
}

/** A delegating [[Store]] that forwards every member — the builder marker
  * members included — to `inner`, and times each public call as a
  * `store.*` span. Write calls also record, from outside the program, the
  * bytes of files the call created under the store's root and whether it
  * rewrote the base version (`rebased`) or folded pending deltas into a
  * new base (`compacted`). */
final class TracedStore(val inner: Store, val root: String, tr: Tracer) extends Store {
  def spark = inner.spark
  def key: String = inner.key
  override def lastUpdatedField: String = inner.lastUpdatedField
  def name: String = inner.name
  def df: DataFrame = inner.df

  override private[graft] def contentToken: String = inner.contentToken
  override private[graft] def putMeta(k: String, v: String): Unit = inner.putMeta(k, v)
  override private[graft] def getMeta(k: String): Option[String] = inner.getMeta(k)

  override def query(params: QueryParams): DataFrame = tr.span("store.query")(inner.query(params))
  override def query(criteria: String): DataFrame = tr.span("store.query")(inner.query(criteria))
  override def queryOne(params: QueryParams): Option[Row] =
    tr.span("store.query_one")(inner.queryOne(params))
  override def count(criteria: Option[String]): Long = tr.span("store.count")(inner.count(criteria))
  override def distinct(field: String, criteria: Option[String]): DataFrame =
    tr.span("store.distinct")(inner.distinct(field, criteria))
  override def distinctApprox(field: String, criteria: Option[String], rsd: Double): Long =
    tr.span("store.distinct_approx")(inner.distinctApprox(field, criteria, rsd))
  override def queryAs[T: Encoder](params: QueryParams): org.apache.spark.sql.Dataset[T] =
    tr.span("store.query_as")(inner.queryAs[T](params))
  override def groupby(keys: Seq[String], criteria: Option[String], properties: Seq[String],
                       sort: Seq[(String, Int)], skip: Int, limit: Option[Int]): DataFrame =
    tr.span("store.groupby")(inner.groupby(keys, criteria, properties, sort, skip, limit))
  override def queryExpr(sqlExpr: String): DataFrame = tr.span("store.query_expr")(inner.queryExpr(sqlExpr))
  override def aggregateSql(sql: String, viewName: String): DataFrame =
    tr.span("store.aggregate_sql")(inner.aggregateSql(sql, viewName))
  override def lastUpdated: Option[java.sql.Timestamp] = tr.span("store.last_updated")(inner.lastUpdated)
  override def newerIn(target: Store, criteria: Option[String], exhaustive: Boolean): DataFrame =
    tr.span("store.newer_in")(inner.newerIn(target, criteria, exhaustive))
  override def ensureIndex(field: String, unique: Boolean): Boolean =
    write("store.ensure_index")(inner.ensureIndex(field, unique))

  override def update(docs: DataFrame, keyFields: Seq[String]): Unit =
    write("store.update")(inner.update(docs, keyFields))
  override def removeDocs(criteria: String): Unit = write("store.remove")(inner.removeDocs(criteria))
  override def removeKeys(keys: DataFrame): Unit = write("store.remove")(inner.removeKeys(keys))
  override def updateRemoveKeys(docs: DataFrame, removals: DataFrame, keyFields: Seq[String]): Unit =
    write("store.update_remove")(inner.updateRemoveKeys(docs, removals, keyFields))

  private def write[T](name: String)(body: => T): T = {
    if (!tr.enabled) return body
    val before = StoreFiles.files(root)
    val (base0, deltas0) = StoreFiles.manifest(root)
    tr.spanWith(name)(body, (_: T) => {
      val created = StoreFiles.files(root).iterator
        .filter { case (p, _) => !before.contains(p) }.map(_._2).sum
      val (base1, deltas1) = StoreFiles.manifest(root)
      val rebased = base1 != base0 && base0.nonEmpty
      Map("bytes_written" -> created.toDouble,
        "rebased" -> (if (rebased) 1.0 else 0.0),
        "compacted" -> (if (rebased && deltas0 > 0 && deltas1 == 0) 1.0 else 0.0))
    })
  }
}

/** A delegating [[QueryOperator]] whose `query` (the REST-param compile)
  * is timed as an `api.compile` span. */
final class TracedOperator(inner: QueryOperator, tr: Tracer) extends QueryOperator {
  def query(params: Map[String, String]): QueryParams = tr.span("api.compile")(inner.query(params))
  override def postProcess(results: DataFrame, params: Map[String, String]): DataFrame =
    inner.postProcess(results, params)
  override def meta(filtered: DataFrame, params: Map[String, String]): Map[String, String] =
    inner.meta(filtered, params)
}

/** [[ReadResource]] whose request entry points open a root span on the
  * server thread (the span id rides the Spark local property the job
  * listener reads). The request id arrives as the `_rid` param, which no
  * operator on this resource reads. */
final class TracedReadResource(store: Store, ops: Seq[QueryOperator], tr: Tracer)
    extends ReadResource(store, ops) {
  override def search(params: Map[String, String]): String =
    tr.span("api.search", "req-" + params.getOrElse("_rid", ""), root = true)(super.search(params))
  override def byKey(key: String): Option[String] =
    tr.span("api.key", "key-" + key, root = true)(super.byKey(key))
}

/** [[SearchResource]] with the same root span; the request id rides the
  * body's `rid` field, which the resource ignores. */
final class TracedSearchResource(lexical: Bm25IndexBuilder, tr: Tracer)
    extends SearchResource(lexical) {
  private val Rid = """"rid"\s*:\s*(\d+)""".r.unanchored
  override def search(body: Array[Byte]): String = {
    val rid = new String(body, java.nio.charset.StandardCharsets.UTF_8) match {
      case Rid(r) => r
      case _ => ""
    }
    tr.span("api.bm25", "req-" + rid, root = true)(super.search(body))
  }
}
