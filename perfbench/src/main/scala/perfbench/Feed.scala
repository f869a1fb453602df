package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.core.{MLSchema, MLType}
import graft.io.Readers
import graft.processor.{DataPipeline, PipelineConfig}
import graft.stream.BatchStream

/** `feed`: read a seed-generated training table, fit and apply a YAML
  * `DataPipeline` (imputation, label encoding, hashed text vectorization,
  * vector assembly), then assign shuffled, drop-last batches to
  * `Ranks` shard ranks and drain every rank on the driver through
  * `toLocalBatches`, one rank after another, as a trainer would.
  *
  * Check: across ranks every row is delivered exactly once, except the
  * closed-form drop_last remainder `rows mod (ranks × batch)`, and every
  * batch holds exactly `Batch` rows.
  */
final class Feed(seed: Long, dir: String) extends Workload {
  import Feed._

  private val input = s"$dir/train.parquet"
  private val firstBatchS = Seq.newBuilder[Double]
  private var delivered = 0L

  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    Gen.feed(seed, NumRows)
      .map(r => (r.id, r.catA, r.catB, r.numX, r.numY, r.qty, r.text, r.label))
      .toDF("id", "cat_a", "cat_b", "num_x", "num_y", "qty", "text", "label")
      .write.mode("overwrite").parquet(input)
  }

  def iterate(spark: SparkSession, t: Tracer, checks: Checks): IterResult = {
    val gaps = Seq.newBuilder[Double]
    val ids = new java.util.BitSet(NumRows)
    var rows = 0L
    var badBatches = 0
    var dupes = 0L
    val t0 = System.nanoTime()
    var prev = t0
    val ok = checks.op("feed iteration") {
      t("feed") {
        val df = t.out("io.read")(Readers.read(spark, input))
        val pipe = new DataPipeline(PipelineConfig.fromYaml(Pipeline))
        t("processor.fit")(pipe.fit(df, Schema))
        val out = t.out("processor.transform") {
          pipe.transform(df, Schema).select(col("id"), col("features"), col("label_enc"))
        }
        (0 until Ranks).foreach { rank =>
          val plan = BatchStream.Plan(numRows = Some(Batch.toLong), shard = (rank, Ranks),
            dropLast = Some(true), shuffle = true, seed = seed)
          val assigned = t.out("stream.assign")(BatchStream.assign(out, Seq(col("id")), plan))
          t("stream.drain") {
            val it = BatchStream.toLocalBatches(assigned)
            while (it.hasNext) {
              val (_, batch) = it.next()
              val now = System.nanoTime()
              if (prev == t0) firstBatchS += (now - t0) / 1e9
              gaps += (now - prev) / 1e6
              prev = now
              if (batch.size != Batch) badBatches += 1
              batch.foreach { r =>
                val id = r.getLong(0).toInt
                if (ids.get(id)) dupes += 1 else ids.set(id)
              }
              rows += batch.size
            }
          }
        }
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (ok.isDefined) {
      delivered = rows
      val expected = NumRows - NumRows % (Ranks * Batch)
      checks.check("feed: each row delivered exactly once, minus the drop_last remainder") {
        dupes == 0 && rows == expected && ids.cardinality() == expected
      }
      checks.check("feed: every batch holds exactly the batch size")(badBatches == 0)
    }
    IterResult(rows, gaps.result(), wall)
  }

  override def traceExtras(spark: SparkSession, t: Tracer): Map[String, Double] = {
    val drains = t.table(1).get("stream.drain").map(_.counts.jobs).getOrElse(0)
    Map("stream.delivered_share" -> delivered.toDouble / NumRows,
      "stream.fetch_jobs" -> drains.toDouble)
  }

  override def named(iters: Seq[IterResult]): Seq[(String, Double, String)] = {
    val gaps = iters.flatMap(_.gapsMs)
    // the first gap of each iteration is its time to first batch
    val firsts = firstBatchS.result().takeRight(iters.size)
    Seq(("rows_per_s", iters.map(_.items).sum / iters.map(_.wallS).sum, "1/s"),
      ("first_batch_s", Stats.median(firsts), "s"),
      ("batch_gap_p50_ms", Stats.percentile(gaps, 50), "ms"),
      ("batch_gap_p99_ms", Stats.percentile(gaps, 99), "ms"))
  }
}

object Feed {
  val NumRows = 3000
  val Batch = 32
  val Ranks = 4

  val Schema: MLSchema = MLSchema(Map(
    "id" -> MLType.Index, "cat_a" -> MLType.Categorical, "cat_b" -> MLType.Categorical,
    "num_x" -> MLType.Float, "num_y" -> MLType.Float, "qty" -> MLType.Int,
    "text" -> MLType.Text, "label" -> MLType.Categorical))

  val Pipeline: String =
    """pipeline:
      |  - input: [cat_a]
      |    transformer: CategoricalMissingValueImputation
      |    params: {strategy: mode}
      |  - input: [num_x, num_y]
      |    transformer: NumericMissingValueImputation
      |    params: {strategy: mean}
      |  - input: [cat_a, cat_b, label]
      |    transformer: LabelEncoding
      |    output: "{col_name}_enc"
      |  - input: [text]
      |    transformer: HashedTextVectorization
      |    params: {dim: 16}
      |    output: text_vec
      |  - input: [num_x, num_y, qty, cat_a_enc, cat_b_enc, text_vec]
      |    transformer: VectorAssembler
      |    output: features
      |""".stripMargin
}
