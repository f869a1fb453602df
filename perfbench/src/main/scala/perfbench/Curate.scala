package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.ResultDigest
import graft.io.{ArrowIpc, Readers}
import graft.ops.{Components, Dedup, Packing, Sampling, TextAnalysis}

/** `curate`: read → the q208 curation chain of public ops calls → the
  * sharded Arrow IPC sink, over a seed-generated corpus with planted exact
  * and near duplicates and repeated boilerplate spans.
  *
  * One iteration curates the whole corpus once. Checks: every planted exact
  * duplicate cluster collapses to one survivor, the Arrow shards read back
  * the content of the frame written (same `ResultDigest`), and every later
  * iteration's read-back digest equals the first one's.
  */
final class Curate(seed: Long, dir: String) extends Workload {
  import Curate._

  private val input = s"$dir/documents.parquet"
  private val sinkDir = s"$dir/shards"
  private var truth: Gen.CurateTruth = _
  private var firstDigest: Option[ResultDigest.Digest] = None
  // frames of the latest iteration, for the checks and the traced ratios
  private var last: Frames = _

  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    val (docs, t) = Gen.curate(seed, NumDocs)
    truth = t
    docs.map(d => (d.docId, d.text, d.lang, d.source, d.nChars))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(input)
  }

  def iterate(spark: SparkSession, t: Tracer, checks: Checks): IterResult = {
    val t0 = System.nanoTime()
    val ok = checks.op("curate iteration") {
      t("curate") { last = chain(spark, t) }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (ok.isDefined) verify(spark, checks)
    IterResult(if (ok.isDefined) NumDocs.toLong else 0L, Nil, wall)
  }

  private def chain(spark: SparkSession, t: Tracer): Frames = {
    val docs = t.out("io.read") {
      Readers.read(spark, input).select(col("doc_id"), col("text"), col("lang"))
    }
    // near-duplicate collapse: banded LSH, capped hot buckets, star edges
    // verified by exact Jaccard, then components and a min-id survivor
    val pairs = t.out("ops.dedup") {
      Dedup.verifiedHubEdges(docs, col("text"), col("doc_id"),
        k = 3, numHashes = 4, bands = 2, threshold = 0.5, maxBucketSize = 64L)
    }
    val collapsed = t.out("ops.components") {
      val comps = Components.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      val clusterSurv = comps.groupBy(col("component"))
        .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
      val survivorIds = docs.select(col("doc_id"))
        .join(comps.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .unionByName(clusterSurv)
      docs.join(survivorIds, Seq("doc_id"), "left_semi")
    }
    var cleaned: DataFrame = null
    val kept = t.out("ops.dup_spans") {
      cleaned = TextAnalysis.removeDuplicateSpans(collapsed, col("doc_id"), col("text"), k = 5)
      cleaned.filter(col("n_kept") >= 20)
    }
    val keptRows = kept.count()
    val scores = t.out("ops.dsir") {
      TextAnalysis.dsirScoresWithin(
        kept.join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id")),
        col("id"), col("clean_text"), col("lang") === "en", dim = 1024, alpha = 0.5)
    }
    val k = math.max(1L, keptRows / 2).toInt
    val packed = t.out("ops.select") {
      val sel = Sampling.gumbelTopK(scores, col("id"), col("dsir_score"), n = k, seed = 11)
      Packing.packByTokenBudget(
        sel.join(kept.select(col("id"), col("n_kept"), col("clean_text")), Seq("id")),
        id = col("id"), tokens = col("n_kept"), budget = 500L, shards = 4)
        .select(col("id").as("doc_id"), col("n_kept"), col("shard"), col("bin"),
          round(col("dsir_score"), 4).as("dsir_score"), col("clean_text"))
    }
    t("io.arrow_sink") {
      ArrowIpc.writeStreamSharded(packed, sinkDir, numShards = 4, shardBy = Seq("doc_id"))
    }
    Frames(docs, pairs, collapsed, cleaned, packed, math.min(k.toLong, keptRows))
  }

  /** Outside the timed iteration: read the shards back and compare them
    * with the frame handed to the sink, recomputed, on content.
    */
  private def verify(spark: SparkSession, checks: Checks): Unit = {
    val back = ArrowIpc.readStreamSharded(spark, sinkDir)
    val d = ResultDigest.digest(back)
    checks.check("curate: Arrow shards read back the frame written") {
      val w = ResultDigest.digest(last.packed)
      if (!w.matches(d)) println(s"check curate sink: wrote $w, read back $d")
      w.matches(d) && d.rows == last.written
    }
    firstDigest match {
      case None =>
        firstDigest = Some(d)
        checks.check("curate: every planted exact duplicate collapses")(exactCollapse(spark))
      case Some(w) =>
        checks.check("curate: iteration digest equals the first iteration's")(w.matches(d))
    }
  }

  /** Every planted exact-duplicate cluster keeps exactly one member. */
  private def exactCollapse(spark: SparkSession): Boolean = {
    import spark.implicits._
    val members = truth.exactClusters.zipWithIndex
      .flatMap { case (ids, c) => ids.map(_ -> c) }.toDF("doc_id", "cluster")
    val surviving = members.join(last.collapsed.select("doc_id"), "doc_id")
      .groupBy("cluster").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    truth.exactClusters.nonEmpty &&
      truth.exactClusters.indices.forall(c => surviving.get(c).contains(1L))
  }

  override def traceExtras(spark: SparkSession, t: Tracer): Map[String, Double] = {
    val f = last
    val docsIn = f.docs.count().toDouble
    val candidates = Dedup.minhashCandidates(f.docs, col("text"), col("doc_id"),
      k = 3, numHashes = 4, bands = 2, maxBucketSize = Some(64L)).count()
    val tok = f.cleaned.agg(sum("n_kept"), sum("n_tokens")).head()
    val shardBytes = new java.io.File(sinkDir).listFiles()
      .filter(_.getName.endsWith(".arrows")).map(_.length).sum
    val textMb = f.docs.agg(sum(length(col("text")))).head().getLong(0) / 1e6
    t("functions.kernels") {
      f.docs.select(TextAnalysis.tokens(col("text")), TextAnalysis.hash60(col("text")),
        TextAnalysis.shingles(col("text"), 5)).write.format("noop").mode("overwrite").save()
    }
    t.flush()
    val kernelCpuS = t.spans.filter(_.name == "functions.kernels")
      .map(s => t.listener.of(s.id).cpuNs / 1e9).sum
    println(s"metric curate planted_dup_share ${truth.plantedDupDocs / docsIn} ratio")
    Map(
      "ops.dedup.verify_yield" -> f.pairs.count().toDouble / math.max(1L, candidates),
      "curate.dup_share" -> (docsIn - f.collapsed.count()) / docsIn,
      "ops.dup_spans.kept_token_share" -> tok.getLong(0).toDouble / tok.getLong(1),
      "io.arrow_sink.bytes_per_row" -> shardBytes.toDouble / f.written,
      "functions.kernels.mb_per_cpu_s" -> textMb / kernelCpuS)
  }

  override def named(iters: Seq[IterResult]): Seq[(String, Double, String)] =
    Seq(("docs_per_s", iters.map(_.items).sum / iters.map(_.wallS).sum, "1/s"))
}

object Curate {
  val NumDocs = 5000

  final case class Frames(docs: DataFrame, pairs: DataFrame, collapsed: DataFrame,
      cleaned: DataFrame, packed: DataFrame, written: Long)
}
