package graft.perfbench

import scala.jdk.CollectionConverters._

/** Store state sampled from outside the program when a round ends. */
final case class RoundEnd(liveBytes: Long, deltaDepth: Int, inputBytes: Long)

/** Per-layer metrics of a traced run, computed from its spans and jobs.
  * Round metrics are medians over the window's rounds of the per-round
  * value; request metrics are medians over requests. A layer's `self_ms`
  * is its span time not covered by child spans; `driver_ms` is span time
  * not covered by any Spark job started under it. Request spans before
  * `reqStart` belong to the untimed warm-up and are left out. */
final class Layers(tr: Tracer, rounds: Seq[(Long, RoundResult, RoundEnd)], reqs: Seq[Req],
                   reqStart: Double) {
  import Stats.median

  private val spans: Map[Long, Span] = tr.spans.asScala.map(s => s.id -> s).toMap
  private val children: Map[Long, Seq[Span]] =
    spans.values.toSeq.groupBy(_.parent).map { case (k, v) => k -> v.sortBy(_.start) }
  private val jobsBySpan: Map[Long, Seq[JobRec]] = tr.jobs.values.asScala.toSeq.groupBy(_.span)

  private def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
  private def under(s: Span, name: String): Seq[Span] = subtree(s).tail.filter(_.name == name)
  private def jobsUnder(s: Span): Seq[JobRec] = subtree(s).flatMap(x => jobsBySpan.getOrElse(x.id, Nil))

  /** Length of the union of `ivs` clipped to `[lo, hi]`. */
  private def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    for ((a0, b0) <- ivs.sortBy(_._1)) {
      val a = math.max(a0, reach)
      val b = math.min(b0, hi)
      if (b > a) { total += b - a; reach = b }
    }
    total
  }
  private def driverMs(s: Span): Double =
    s.ms - covered(jobsUnder(s).filter(!_.end.isNaN).map(j => (j.start, j.end)), s.start, s.end)
  private def selfMs(s: Span): Double =
    s.ms - covered(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
  private def attr(ss: Seq[Span], k: String): Double = ss.map(_.attrs.getOrElse(k, 0.0)).sum
  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  def metrics: Seq[(String, Double, String)] = {
    val out = Seq.newBuilder[(String, Double, String)]
    def m(name: String, unit: String)(v: Double): Unit = out += ((name, v, unit))
    val rs = rounds.flatMap { case (id, r, end) => spans.get(id).map(s => (s, r, end)) }
    def perRound(f: (Span, RoundResult, RoundEnd) => Double): Double =
      med(rs.map { case (s, r, e) => f(s, r, e) })

    // graft.streaming
    def ingest(s: Span): Option[Span] = under(s, "streaming.ingest").headOption
    def batches(s: Span): Seq[BatchRec] = ingest(s).toSeq.flatMap { i =>
      tr.batches.asScala.filter(b => b.at >= i.start - 1.0 && b.at <= i.end)
    }
    m("streaming.ingest.ms", "ms")(perRound((s, _, _) => ingest(s).map(_.ms).getOrElse(0.0)))
    m("streaming.ingest.jobs", "count")(perRound((s, _, _) => ingest(s).map(jobsUnder(_).size.toDouble).getOrElse(0.0)))
    m("streaming.add_batch.ms", "ms")(perRound((s, _, _) => batches(s).map(_.addBatchMs).sum))
    m("streaming.overhead.ms", "ms")(perRound((s, _, _) => batches(s).map(b => b.triggerMs - b.addBatchMs).sum))
    m("streaming.rows", "rows")(perRound((s, _, _) => batches(s).map(_.rows.toDouble).sum))

    // graft.builder
    for (b <- Seq("map", "dedup", "bm25", "group")) {
      def span(s: Span): Option[Span] = under(s, s"builder.$b").headOption
      def per(f: Span => Double): Double = perRound((s, _, _) => span(s).map(f).getOrElse(0.0))
      m(s"builder.$b.ms", "ms")(per(_.ms))
      m(s"builder.$b.self_ms", "ms")(per(selfMs))
      m(s"builder.$b.jobs", "count")(per(jobsUnder(_).size.toDouble))
      m(s"builder.$b.driver_ms", "ms")(per(driverMs))
      m(s"builder.$b.task_ms", "ms")(per(jobsUnder(_).map(_.taskMs.get.toDouble).sum))
      m(s"builder.$b.processed", "docs")(per(_.attrs.getOrElse("processed", 0.0)))
      m(s"builder.$b.useful_ratio", "ratio")(perRound { (s, r, _) =>
        span(s).map(_.attrs.getOrElse("processed", 0.0)).filter(_ > 0).map(r.deltaRows / _).getOrElse(0.0)
      })
      m(s"builder.$b.bytes_written", "B")(per(x => attr(subtree(x).tail, "bytes_written")))
    }

    // graft.store, write side
    def storeMs(name: String)(s: Span): Double = under(s, name).map(_.ms).sum
    m("store.update.ms", "ms")(perRound((s, _, _) => storeMs("store.update")(s)))
    m("store.update.calls", "count")(perRound((s, _, _) => under(s, "store.update").size.toDouble))
    m("store.update_remove.ms", "ms")(perRound((s, _, _) => storeMs("store.update_remove")(s)))
    m("store.remove.ms", "ms")(perRound((s, _, _) => storeMs("store.remove")(s)))
    m("store.newer_in.ms", "ms")(perRound((s, _, _) => storeMs("store.newer_in")(s)))
    m("store.bytes_written", "B")(perRound((s, _, _) => attr(subtree(s), "bytes_written")))
    m("store.write_amp", "ratio")(perRound((s, r, _) => attr(subtree(s), "bytes_written") / r.deltaBytes))
    m("store.version_writes", "count")(perRound((s, _, _) => attr(subtree(s), "rebased")))
    m("store.compactions", "count")(perRound((s, _, _) => attr(subtree(s), "compacted")))
    m("store.space_amp", "ratio")(perRound((_, _, e) => e.liveBytes.toDouble / e.inputBytes))
    m("store.delta_depth", "count")(perRound((_, _, e) => e.deltaDepth.toDouble))

    // graft.api, graft.query and the serving side of graft.store
    val server = spans.values.toSeq.filter(s =>
      s.parent == 0 && s.name.startsWith("api.") && s.start >= reqStart)
    def ofKind(t: String): Seq[Span] = server.filter(_.name == s"api.$t")
    for (t <- Seq("key", "search", "bm25")) {
      val ss = ofKind(t)
      m(s"api.$t.ms", "ms")(med(ss.map(_.ms)))
      m(s"api.$t.self_ms", "ms")(med(ss.map(selfMs)))
      m(s"api.$t.jobs", "count")(med(ss.map(jobsUnder(_).size.toDouble)))
      m(s"api.$t.driver_ms", "ms")(med(ss.map(driverMs)))
    }
    m("api.compile.ms", "ms")(med(ofKind("search").map(s => under(s, "api.compile").map(_.ms).sum)))
    m("query.plan.ms", "ms")(med(server.filter(s => under(s, "store.query").nonEmpty)
      .map(s => under(s, "store.query").map(_.ms).sum)))
    m("store.count.ms", "ms")(med(ofKind("search").map(s => under(s, "store.count").map(_.ms).sum)))
    m("store.count.jobs", "count")(med(ofKind("search").map(s =>
      under(s, "store.count").map(jobsUnder(_).size.toDouble).sum)))
    // client round trip minus the resource call it caused: search and bm25
    // requests carry their id; a key lookup is the server span for that key
    // lying inside the client's interval
    val byCtx = server.groupBy(_.ctx)
    val http = reqs.flatMap { r =>
      val ctx = if (r.kind == "key") s"key-${r.check("key")}" else s"req-${r.rid}"
      byCtx.getOrElse(ctx, Nil).find(s => s.start >= r.start && s.end <= r.end).map(r.ms - _.ms)
    }
    m("api.http.ms", "ms")(med(http))
    m("api.failed", "count")(reqs.count(r => Responses.problem(r).nonEmpty).toDouble)

    // Spark, inside every span above
    val windowJobs = (rs.map(_._1) ++ server).flatMap(jobsUnder).filter(!_.end.isNaN)
    m("spark.job_p50_ms", "ms")(med(windowJobs.map(j => j.end - j.start)))
    m("spark.shuffle_bytes", "B")(perRound((s, _, _) => jobsUnder(s).map(_.shuffleBytes.get.toDouble).sum))
    out.result()
  }
}
