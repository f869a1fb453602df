package perfbench

import org.apache.spark.sql.SparkSession
import graft.core.ResultDigest
import graft.queries.QueryCorpus

/** `corpus`: the heaviest `QueryCorpus.benchNames` queries over the
  * committed sf0.01 fixture. One iteration is one pass over the queries, in
  * an order the seed permutes afresh for every pass.
  *
  * Each query's result is consumed by [[ResultDigest]], which computes
  * every output column as the `noop` sink would and adds one small
  * aggregate, and the digest is checked against the pinned one. The pinned
  * row counts are the ones the DuckDB oracle agreed with at sf0.01.
  */
final class Corpus(seed: Long, dataDir: String, pinsFile: String) extends Workload {
  import Corpus._

  private val rng = new scala.util.Random(seed)
  private var pins: Map[String, ResultDigest.Digest] = Map.empty

  /** Input load: every fixture table the queries read, scanned once. */
  def prepare(spark: SparkSession): Unit = {
    val missing = Queries.filterNot(QueryCorpus.queries.contains)
    require(missing.isEmpty, s"queries not in the corpus: ${missing.mkString(", ")}")
    Tables.foreach(tb => require(graft.core.GraftSession.table(spark, dataDir, tb).count() > 0,
      s"fixture table $tb is empty"))
    pins = readPins(pinsFile)
  }

  def iterate(spark: SparkSession, t: Tracer, checks: Checks): IterResult = {
    val order = rng.shuffle(Queries)
    val gaps = Seq.newBuilder[Double]
    var done = 0L
    val t0 = System.nanoTime()
    t("queries.all") {
      order.foreach { q =>
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        val tq = System.nanoTime()
        t(s"queries.${short(q)}") {
          checks.op(q) {
            val d = ResultDigest.digest(QueryCorpus.queries(q)(spark, dataDir))
            checks.check(s"$q digest") {
              val ok = pins.get(q).exists(_.matches(d))
              if (!ok) println(s"pin $q\t${d.rows}\t${d.xor}\t${d.sum}\t${d.schema}")
              ok
            }
            done += 1
          }
        }
        gaps += (System.nanoTime() - tq) / 1e6
      }
    }
    IterResult(done, gaps.result(), (System.nanoTime() - t0) / 1e9)
  }

  override def named(iters: Seq[IterResult]): Seq[(String, Double, String)] = {
    val qs = iters.flatMap(_.gapsMs).map(_ / 1000.0)
    Seq(("query_p50_s", Stats.percentile(qs, 50), "s"),
      ("query_p90_s", Stats.percentile(qs, 90), "s"),
      ("queries_per_s", iters.map(_.items).sum / iters.map(_.wallS).sum, "1/s"))
  }
}

object Corpus {
  /** Five of the bench queries with the most Spark jobs (about 40% of the
    * bench's jobs between them): text curation, graph iteration and a
    * TPC-H join. Each is named in the per-layer metrics.
    */
  val Queries: Seq[String] = Seq(
    "q208_curation_v3", "q184_pagerank", "q175_web_pipeline",
    "q146_tpch_q5", "q91_dedup_clusters")

  val Tables: Seq[String] =
    Seq("documents", "lineitem", "orders", "customer", "supplier", "nation", "region")

  def short(q: String): String = q.takeWhile(_ != '_')

  /** Tab-separated `query rows xor sum schema`, one query per line. */
  def readPins(path: String): Map[String, ResultDigest.Digest] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filterNot(l => l.isBlank || l.startsWith("#")).map { l =>
      val Array(q, rows, xor, sum, schema) = l.split("\t", 5)
      q -> ResultDigest.Digest(rows.toLong, xor.toLong, sum, schema)
    }.toMap
    finally src.close()
  }
}
