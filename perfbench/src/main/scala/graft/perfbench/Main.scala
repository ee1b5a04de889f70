package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Command-line settings, passed by `run.py`. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      cores: Int, heap: String, dir: String, result: String, spans: String)

object Main {
  /** Corpus sizing. Chosen so that set-up, the measured window and the
    * correctness checks of one run fit the benchmark's time budget on 4
    * cores; every round's work is dominated by per-job and per-write
    * floors, not by the corpus size. */
  val Size: CorpusSize = CorpusSize(docs = 3000, tokens = 40, vocab = 20000, sources = 500,
    dupShare = 0.05, rewriteShare = 0.01, addShare = 0.002)
  /** Builder steps per workload. `serve_mixed` rebuilds only the stores the
    * API serves (`clean` and the BM25 index): with dedup and groups too, a
    * round under three clients took ~40 s, past the run's time budget. */
  val Steps: Map[String, Seq[String]] = Map(
    "build_incr" -> Seq("map", "dedup", "bm25", "group"),
    "serve_mixed" -> Seq("map", "bm25"))

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("cores").toInt, m("heap"), m("dir"), m("result"), m("spans"))
  }

  /** The session `graft.Bench` runs with, on `local[cores]`. */
  def confs(args: Args): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> args.cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    "spark.ui.enabled" -> "false",
    // keep every file the session writes inside the run's directory
    "spark.local.dir" -> s"${args.dir}/spark-local",
    "spark.sql.warehouse.dir" -> s"${args.dir}/warehouse")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(Steps.contains(args.workload), s"unknown workload ${args.workload}")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val b = SparkSession.builder().master(s"local[${args.cores}]")
    confs(args).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try new Run(spark, args, jvmStart).apply()
      finally spark.stop()
    sys.exit(code)
  }
}

/** One benchmark run: set-up, the measured window, the untimed
  * correctness checks, and the result file `run.py` prints from.
  *
  * Both workloads measure for `seconds`.
  * `build_incr` splits them: rounds back to back, nothing else running,
  * until half of `seconds` has passed (at least one round); then, after an
  * untimed warm-up, one closed-loop client for the other half against the
  * stores the rounds left, now static.
  * `serve_mixed` overlaps them: after the same warm-up, one writer thread
  * runs rounds of the serving steps back to back until `seconds` have
  * passed (at least one round) while `cores / 2` closed-loop clients send
  * requests until the writer's last round has committed, so every round is
  * timed under the same load and every request meets a running round. */
final class Run(spark: SparkSession, args: Args, jvmStart: Long) {
  private val tr = new Tracer(spark, args.trace)
  private val size = Main.Size
  /** Client threads. On static stores one client times each request's own
    * work: with two, a request's time also held whichever request the
    * other client had in flight, and run-to-run spreads doubled. Against
    * the writer, half the cores, so clients, the writer and Spark's own
    * threads do not outnumber them. */
  private val clientThreads = if (args.workload == "build_incr") 1 else math.max(1, args.cores / 2)

  def apply(): Int = {
    tr.install()
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val t0 = System.nanoTime()
    val corpus = new Corpus(args.seed, size)
    val p = new Pipeline(spark, s"${args.dir}/pipeline", Main.Steps(args.workload), tr)
    var inputBytes = p.land(corpus.initial())
    val tb = System.nanoTime()
    tr.span("setup.full_build", "full")(p.rebuild())
    val fullBuildS = (System.nanoTime() - tb) / 1e9
    val server = new Server(p, tr)
    val setupS = sessionS + (System.nanoTime() - t0) / 1e9
    System.err.println(f"setup: $setupS%.2f s (session $sessionS%.2f s, full build $fullBuildS%.2f s)")

    val rounds = new java.util.concurrent.ConcurrentLinkedQueue[(Long, RoundResult, RoundEnd)]()
    val roundFailures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def writer(deadline: Double): Unit = {
      var r = 0
      while (tr.now() < deadline && roundFailures.isEmpty) {
        r += 1
        val delta = corpus.nextDelta()
        try {
          var spanId = 0L
          val res = tr.span("round", s"round-$r") {
            spanId = Option(spark.sparkContext.getLocalProperty(Tracer.SpanKey)).map(_.toLong).getOrElse(0L)
            p.runRound(delta)
          }
          inputBytes += res.deltaBytes
          rounds.add((spanId, res, if (!tr.enabled) RoundEnd(0, 0, inputBytes) else RoundEnd(
            p.roots.values.map(StoreFiles.liveBytes).sum,
            p.deltaStores.map(n => StoreFiles.manifest(p.roots(n))._2).sum, inputBytes)))
          System.err.println(f"round $r: ${res.ms / 1000}%.2f s")
        } catch { case e: Exception =>
          roundFailures.add(s"round $r failed: $e")
          e.printStackTrace()
        }
      }
    }
    val clients = new Clients(server.port, corpus, args.seed, tr)
    def warmUp(): Seq[Req] = {
      val t = System.nanoTime()
      val ws = clients.warmUp(clientThreads)
      System.err.println(f"warm-up: ${ws.size} requests in ${(System.nanoTime() - t) / 1e9}%.2f s")
      ws
    }
    // `reqs` are the measured requests, sent from `reqStart` on; `warm` the
    // warm-up before them
    val (warm, reqs, reqStart) = args.workload match {
      case "build_incr" =>
        val half = args.seconds * 500.0
        writer(tr.now() + half)
        val ws = warmUp()
        val readStart = tr.now()
        (ws, clients.run(clientThreads, readStart + half), readStart)
      case _ =>
        val ws = warmUp()
        val start = tr.now()
        @volatile var writing = true
        val w = new Thread(() => try writer(start + args.seconds * 1000.0) finally writing = false,
          "perfbench-writer")
        w.start()
        val rs = clients.runWhile(clientThreads, () => writing)
        w.join()
        (ws, rs, start)
    }
    val reqEnd = reqs.map(_.end).maxOption.getOrElse(reqStart)
    val reqWindowS = (reqEnd - reqStart) / 1000.0
    server.stop()
    val rssMb = Stats.peakRssMb() // before the checks, which are not part of the workload
    val rr = rounds.asScala.toSeq
    System.err.println(f"window: ${rr.size} rounds, ${reqs.size} requests in $reqWindowS%.2f s")
    Stats.reqSummary(reqs).foreach(System.err.println)

    // untimed correctness checks; a from-scratch rebuild check costs seconds
    // of wall time, so each runs on a share of the seeds (README.md, "Time
    // budget")
    val tc = System.nanoTime()
    val queries = { val r = new scala.util.Random(args.seed + 7); Seq.fill(5)(corpus.query(r)) }
    val checks = Checks.invariants(p) ++ (args.seed % 4 match {
      case 0 if p.steps.contains("dedup") => Seq(Checks.dedup(spark, p))
      case 0 | 2 => Seq(Checks.bm25(spark, p, queries))
      case _ => Nil
    })
    val reqProblems = (warm ++ reqs).flatMap(r => Responses.problem(r).map(x => s"request ${r.rid}: $x"))
    val problems = roundFailures.asScala.toSeq ++
      checks.flatMap { case (n, x) => x.map(v => s"$n: $v") } ++ reqProblems
    System.err.println(f"checks: ${checks.size} in ${(System.nanoTime() - tc) / 1e9}%.1f s, " +
      s"${problems.size} problems")
    problems.take(10).foreach(x => System.err.println("  " + x))

    def ms(rs: Seq[Req], q: Double) = Stats.quantile(rs.map(_.ms), q)
    def kind(k: String) = reqs.filter(_.kind == k)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("full_build_s", fullBuildS, "s"),
      ("round_p50_s", Stats.median(rr.map(_._2.ms)) / 1000.0, "s"),
      ("req_per_s", Stats.throughput(reqs), "req/s"),
      ("req_p50_ms", ms(reqs, 0.5), "ms"),
      ("req_p90_ms", ms(reqs, 0.9), "ms"),
      ("key_p50_ms", ms(kind("key"), 0.5), "ms"),
      ("search_p50_ms", ms(kind("search"), 0.5), "ms"),
      ("bm25_p50_ms", ms(kind("bm25"), 0.5), "ms"),
      ("rss_peak_mb", rssMb, "MB"))
    tr.drain()
    val layers = if (tr.enabled) new Layers(tr, rr, reqs, reqStart).metrics else Nil
    if (tr.enabled) Files.write(Paths.get(args.spans), tr.spanLines.toSeq.asJava)

    val settings = Seq(
      "workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
      "seconds" -> args.seconds.toString, "trace" -> args.trace.toString,
      "nproc" -> args.cores.toString, "master" -> Json.str(spark.sparkContext.master),
      "spark_conf" -> Json.obj(Main.confs(args).filterNot(_._1.endsWith(".dir"))
        .map { case (k, v) => k -> Json.str(v) }),
      "driver_heap" -> Json.str(args.heap),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "corpus_docs" -> size.docs.toString, "tokens_per_doc" -> size.tokens.toString,
      "vocab" -> size.vocab.toString, "sources" -> size.sources.toString,
      "near_dup_share" -> size.dupShare.toString,
      "delta_rewrites" -> size.rewritesPerRound.toString,
      "delta_adds" -> size.addsPerRound.toString,
      "steps" -> p.steps.map(Json.str).mkString("[", ", ", "]"),
      "client_threads" -> clientThreads.toString,
      "warm_up_requests" -> warm.size.toString,
      "checks" -> Json.obj(checks.map { case (n, x) => n -> Json.str(if (x.isEmpty) "ok" else "failed") }),
      "writer_threads" -> "1",
      "rounds" -> rr.size.toString, "requests" -> reqs.size.toString,
      "request_window_s" -> f"$reqWindowS%.3f",
      "requests_by_kind" -> Json.obj(Seq("key", "search", "bm25").map(k => k -> kind(k).size.toString)))
    def metricsJson(ms: Seq[(String, Double, String)]) =
      Json.obj(ms.map { case (n, v, u) => n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val attempted = rr.size + roundFailures.size + warm.size + reqs.size
    val failed = roundFailures.size + (warm ++ reqs).count(r => Responses.problem(r).nonEmpty)
    val fields = Seq(
      "correct" -> problems.isEmpty.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> metricsJson(if (tr.enabled) layers else e2e),
      "settings" -> Json.obj(settings),
      "problems" -> problems.map(Json.str).mkString("[", ", ", "]")) ++
      (if (tr.enabled) Seq("traced_end_to_end" -> metricsJson(e2e)) else Nil)
    Files.writeString(Paths.get(args.result), Json.obj(fields))
    0
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

object Stats {
  /** Harrell-Davis estimate of the `q` quantile of `xs`: the mean of all
    * order statistics weighted by a Beta((n+1)q, (n+1)(1-q)) density over
    * their ranks. On the few dozen requests of a run it moves less from run
    * to run than the one or two middle order statistics. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toArray
    val n = s.length
    if (n <= 1) s.headOption.getOrElse(Double.NaN)
    else {
      val a = (n + 1) * q
      val b = (n + 1) * (1 - q)
      // the weight of order statistic i integrates the density over
      // [i/n, (i+1)/n]: a midpoint sum, in logs so large n cannot underflow
      val steps = 32
      val logs = Array.tabulate(n * steps) { k =>
        val x = (k + 0.5) / (n * steps)
        (a - 1) * math.log(x) + (b - 1) * math.log1p(-x)
      }
      val top = logs.max
      val w = Array.tabulate(n)(i => (0 until steps).map(k => math.exp(logs(i * steps + k) - top)).sum)
      s.indices.map(i => s(i) * w(i)).sum / w.sum
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Completed requests per second of closed-loop clients: the sum over
    * clients of each one's requests over its own busy span (first send
    * to last reply), so the idle tail of a client that finished early
    * does not count. */
  def throughput(reqs: Seq[Req]): Double =
    reqs.groupBy(_.client).values.map { rs =>
      rs.size / ((rs.map(_.end).max - rs.map(_.start).min) / 1000.0)
    }.sum

  /** Peak resident set of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def reqSummary(reqs: Seq[Req]): Seq[String] =
    reqs.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
      f"$k: n=${rs.size} p50=${median(rs.map(_.ms))}%.1f p90=${quantile(rs.map(_.ms), 0.9)}%.1f status=${rs.map(_.status).distinct}"
    }
}
