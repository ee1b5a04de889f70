package graft.perfbench

import graft.builder.{Bm25IndexBuilder, DedupBuilder}
import graft.ext.TextAnalysis
import graft.store.ParquetStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Untimed correctness checks of the built stores, run on the program's own
  * stores (never through the tracing wrappers). Each yields a problem or
  * None; a check that throws reports the exception. */
object Checks {
  private def check(name: String)(body: => Option[String]): (String, Option[String]) =
    name -> (try body catch { case e: Exception => Some(s"threw $e") })

  /** Cheap invariants every run checks: `clean` holds exactly the source's
    * (doc_id, last_updated) pairs, and the groups' `n_docs` sum to the
    * `clean` count (when the pipeline builds groups). */
  def invariants(p: Pipeline): Seq[(String, Option[String])] = {
    val clean = p.raw(p.clean).df
    val all = Seq(
      check("clean matches source on doc_id and last_updated") {
        val s = p.raw(p.source).df.select(col("doc_id"), col("last_updated").alias("s_lu"))
        val c = clean.select(col("doc_id"), col("last_updated").alias("c_lu"))
        val bad = s.join(c, Seq("doc_id"), "full_outer")
          .filter(!col("s_lu").eqNullSafe(col("c_lu"))).count()
        if (bad == 0) None else Some(s"$bad doc_ids differ")
      },
      check("groups n_docs sums to the clean count") {
        val total = p.raw(p.groups).df.agg(coalesce(sum(col("n_docs")), lit(0L))).head().getLong(0)
        val n = clean.count()
        if (total == n) None else Some(s"n_docs sums to $total, clean has $n")
      })
    if (p.steps.contains("group")) all else all.take(1)
  }

  /** BM25 `topK` over the incremental index equals the from-scratch
    * `TextAnalysis.bm25TopK` over the final corpus, on `queries`. */
  def bm25(spark: SparkSession, p: Pipeline, queries: Seq[String]): (String, Option[String]) =
    check("bm25 topK equals the from-scratch bm25TopK") {
      import spark.implicits._
      val clean = p.raw(p.clean)
      val q = queries.zipWithIndex.map { case (t, i) => (-(i + 1).toLong, t) }.toDF("doc_id", "text")
      val served = new Bm25IndexBuilder(clean, p.raw(p.postings), p.raw(p.stats), "text")
        .topK(q, 10).collect().map(_.toString).sorted.toSeq
      val scratch = TextAnalysis.bm25TopK(clean.df, q, "doc_id", "text", 10)
        .collect().map(_.toString).sorted.toSeq
      if (served.isEmpty) Some("topK returned no rows")
      else if (served == scratch) None
      else Some(s"${served.diff(scratch).size} of ${served.size} rows differ, e.g. " +
        served.diff(scratch).take(2).mkString(" ") + " vs " + scratch.diff(served).take(2).mkString(" "))
    }

  /** The `canon` key set equals a from-scratch un-indexed minhash
    * `DedupBuilder` over the final corpus (the convergence contract of the
    * indexed incremental rounds). */
  def dedup(spark: SparkSession, p: Pipeline): (String, Option[String]) =
    check("canon keys equal a from-scratch un-indexed dedup") {
      val fresh = new ParquetStore(spark, s"${p.dir}/check_canon", "doc_id")
      new DedupBuilder(p.raw(p.clean), fresh, "text", "minhash").run()
      val want = fresh.df.select("doc_id")
      val got = p.raw(p.canon).df.select("doc_id")
      val extra = got.exceptAll(want).count()
      val missing = want.exceptAll(got).count()
      if (extra + missing == 0) None
      else Some(s"canon has $extra keys the scratch build drops and lacks $missing it keeps")
    }
}
