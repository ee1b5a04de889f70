package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.api._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import scala.util.Random

/** One client request and what came back. `check` holds what the response
  * must satisfy: the looked-up key, or the filter of a search page. */
final case class Req(kind: String, rid: Long, client: Int, start: Double, end: Double,
                     status: Int, body: String, check: Map[String, String]) {
  def ms: Double = end - start
}

/** `GraftHttp` serving `clean` through a `ReadResource` (Pagination, Sort,
  * SparseFields, DynamicQuery) and the BM25 index through a
  * `SearchResource`. Traced runs serve the benchmark's span-opening
  * subclasses and delegating operators instead. */
final class Server(p: Pipeline, tr: Tracer) {
  private val ops: Seq[QueryOperator] =
    Seq(new PaginationQuery(), new SortQuery(), new SparseFieldsQuery(),
      new DynamicQuery(p.clean.df.schema, excluded = Set("text")))
      .map(op => if (tr.enabled) new TracedOperator(op, tr) else op)
  private val read =
    if (tr.enabled) new TracedReadResource(p.clean, ops, tr) else new ReadResource(p.clean, ops)
  private val search =
    if (tr.enabled) new TracedSearchResource(p.bm25, tr) else new SearchResource(p.bm25)
  private val http = GraftHttp.serve(Map("clean" -> read), port = 0,
    anns = Map("bm25" -> search))
  val port: Int = http.getAddress.getPort
  def stop(): Unit = http.stop(0)
}

/** Closed-loop request generator: each client thread waits for a reply
  * before it sends the next request. The mix is a third each of key
  * lookups (Zipf-skewed keys), filtered sorted pages and BM25 text
  * queries: every client sends the three kinds in blocks of three, each
  * block in a random order. The shares stay exact, so the all-request
  * median stays inside one kind's latencies; the random order keeps the
  * clients from falling into step with each other and with the writer's
  * rounds (with a fixed cycle, each kind met the same phase of a round
  * over and over). Kinds and parameters come from the seed, so a seed
  * sends the same requests in the same order on every run. */
final class Clients(port: Int, corpus: Corpus, seed: Long, tr: Tracer) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val keys = corpus.keyOrder(new Random(seed ^ 0x5eedL))
  private val keyZipf = new Zipf(keys.length)
  private val ids = new java.util.concurrent.atomic.AtomicLong
  val Kinds: Seq[String] = Seq("key", "search", "bm25")

  private def send(kind: String, thread: Int, rnd: Random): Req = {
    val rid = ids.incrementAndGet()
    val base = s"http://127.0.0.1:$port"
    val (req, check) = kind match {
      case "key" =>
        val k = keys(keyZipf.sample(rnd))
        (HttpRequest.newBuilder(URI.create(s"$base/clean/$k")).GET().build(),
          Map("key" -> k.toString))
      case "search" =>
        val lang = Corpus.Langs(rnd.nextInt(Corpus.Langs.length))
        val lo = rnd.nextInt(80) / 100.0
        val hi = lo + 0.2
        val q = s"lang=$lang&score_min=$lo&score_max=$hi&_sort_fields=-score&_limit=10" +
          s"&_fields=doc_id,lang,score,source,last_updated&_rid=$rid"
        (HttpRequest.newBuilder(URI.create(s"$base/clean?$q")).GET().build(),
          Map("lang" -> lang, "lo" -> lo.toString, "hi" -> hi.toString))
      case _ =>
        val text = corpus.query(rnd)
        val body = s"""{"text": "$text", "k": 10, "rid": $rid}"""
        (HttpRequest.newBuilder(URI.create(s"$base/bm25"))
          .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build(),
          Map("text" -> text))
    }
    val t0 = tr.now()
    val (status, body) =
      try {
        val r = client.send(req, HttpResponse.BodyHandlers.ofString(UTF_8))
        (r.statusCode(), r.body())
      } catch { case e: Exception => (-1, String.valueOf(e)) }
    Req(kind, rid, thread, t0, tr.now(), status, body, check)
  }

  /** Untimed warm-up: each of `threads` clients sends one request of
    * every kind, with parameters of their own (not the window's), so the
    * measured window does not pay class loading and first-plan compilation
    * of the request paths (a kind's first request took 2-4 times as long
    * as its later ones). */
  def warmUp(threads: Int): Seq[Req] =
    onThreads(threads, "warm-up", salt = 0x3a11L) { (t, rnd, add) =>
      for (j <- Kinds.indices) add(send(Kinds((t + j) % Kinds.size), t, rnd))
    }

  /** Run `threads` closed-loop clients until `deadline` (ms on the
    * tracer's clock); returns every completed request. */
  def run(threads: Int, deadline: Double): Seq[Req] = runWhile(threads, () => tr.now() < deadline)

  /** Run `threads` closed-loop clients while `go()` holds. */
  def runWhile(threads: Int, go: () => Boolean): Seq[Req] =
    onThreads(threads, "client", salt = 0L) { (t, rnd, add) =>
      var block = List.empty[String]
      while (go()) {
        if (block.isEmpty) block = rnd.shuffle(Kinds).toList
        add(send(block.head, t, rnd))
        block = block.tail
      }
    }

  /** Run `body` on `threads` threads, each with its own seeded random
    * source, and return the requests they added, in start order. */
  private def onThreads(threads: Int, name: String, salt: Long)(
      body: (Int, Random, Req => Unit) => Unit): Seq[Req] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Req]()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => body(t, new Random(seed * 1000003L + t + salt), out.add(_)),
        s"perfbench-$name-$t")
      th.start(); th
    }
    ts.foreach(_.join())
    out.asScala.toSeq.sortBy(_.start)
  }
}

object Responses {
  private val mapper = new ObjectMapper()

  /** Why `r` is not a correct reply, or None when it is: status 200, a
    * JSON body, a key lookup returns that key, a search page holds at most
    * `_limit` rows that each match its filter, in `-score` order. */
  def problem(r: Req): Option[String] = {
    if (r.status != 200) return Some(s"${r.kind} status ${r.status}: ${r.body.take(200)}")
    val node: JsonNode =
      try mapper.readTree(r.body) catch { case _: Exception => return Some(s"${r.kind}: body is not JSON") }
    val data = node.get("data")
    if (data == null || !data.isArray) return Some(s"${r.kind}: no data array")
    val rows = data.elements().asScala.toSeq
    r.kind match {
      case "key" =>
        if (rows.size != 1 || rows.head.get("doc_id").asLong != r.check("key").toLong)
          Some(s"key ${r.check("key")} returned ${r.body.take(200)}")
        else None
      case "search" =>
        val lo = r.check("lo").toDouble
        val hi = r.check("hi").toDouble
        val scores = rows.map(_.get("score").asDouble)
        if (rows.size > 10) Some(s"search page has ${rows.size} rows")
        else if (rows.exists(x => x.get("lang").asText != r.check("lang")))
          Some(s"search page row outside lang=${r.check("lang")}")
        else if (scores.exists(s => s < lo || s > hi))
          Some(s"search page row outside score [$lo, $hi]")
        else if (scores.zip(scores.drop(1)).exists { case (a, b) => a < b })
          Some("search page not in -score order")
        else if (node.get("meta") == null || node.get("meta").get("total_doc") == null)
          Some("search page without meta.total_doc")
        else None
      case _ =>
        val ranks = rows.map(_.get("rank").asInt)
        if (rows.size > 10 || ranks != (1 to rows.size)) Some(s"bm25 ranks $ranks")
        else if (rows.exists(x => x.get("id") == null)) Some("bm25 row without id")
        else None
    }
  }
}
