package graft.processor

import org.apache.spark.sql.{Column, DataFrame}
import graft.core.MLType

/** Missing-column policy for pipeline steps — reference
  * `src/bears/constants/_DataProcessingConstants.py:108-111` and usage at
  * `src/bears/processor/_DataProcessor.py:11-30`: e.g. a label-encoding step
  * declared on the ground-truth column must be skippable at inference time
  * when that column is absent.
  */
sealed trait MissingColumnBehavior
object MissingColumnBehavior {
  case object Error extends MissingColumnBehavior
  case object Skip extends MissingColumnBehavior
  case object Execute extends MissingColumnBehavior
  def fromName(s: String): MissingColumnBehavior = s.toLowerCase match {
    case "error" => Error
    case "skip" => Skip
    case "execute" => Execute
    case other => throw new IllegalArgumentException(s"missing_column_behavior: $other")
  }
}

/** Base contract of the reference's `DataProcessor`
  * (`src/bears/processor/_DataProcessor.py:11-128`): declared input/output
  * MLTypes, a fit step (no-op for stateless processors), and a transform.
  *
  * The decisive architectural difference from the reference: `transform` here
  * does not run a per-element Python function — it COMPILES to a Catalyst
  * `Column` expression. A whole pipeline of these fuses into a single
  * whole-stage-codegen'd projection (SURVEY.md §3.2 "the whole pipeline
  * typically becomes a single projection"), which is what makes the same
  * pipeline viable on 100 TB: no serialization boundary, full pushdown, and
  * the fit statistics of one pipeline stage share one distributed
  * aggregate ([[AggregateFit]]).
  */
trait DataProcessor extends Serializable {
  def name: String
  def inputMLTypes: Seq[MLType]
  def outputMLType: MLType
  def missingColumnBehavior: MissingColumnBehavior = MissingColumnBehavior.Error

  /** Serializable fitted state (JSON-friendly), for pipeline save/load —
    * reference pickles the processor (`_DataPipeline.py:1040-1064`); we
    * persist explicit state instead.
    */
  def state: Map[String, String] = Map.empty
  def restore(state: Map[String, String]): Unit = ()

  protected def notFitted(what: String): Nothing =
    throw new IllegalStateException(s"$name: .fit() must be called before $what")
}

/** 1:1 processor shape (`src/bears/processor/_SingleColumnProcessor.py:15-65`). */
trait SingleColumnProcessor extends DataProcessor {

  /** Fit on one column; default no-op (stateless). */
  def fit(df: DataFrame, inputCol: String): this.type = this

  /** The compiled transform: input column expression → output expression. */
  def transform(input: Column): Column

  def fitTransform(df: DataFrame, inputCol: String): Column = {
    fit(df, inputCol)
    transform(org.apache.spark.sql.functions.col(inputCol))
  }
}

/** N:1 processor shape (`src/bears/processor/_Nto1ColumnProcessor.py:19-61`).
  * Receives the frame so implementations can dispatch on physical column
  * types (e.g. VectorAssembler's scalar-vs-array handling).
  */
trait Nto1ColumnProcessor extends DataProcessor {
  def fit(df: DataFrame, inputCols: Seq[String]): this.type = this
  def transform(df: DataFrame, inputCols: Seq[String]): Column
}

/** Marker of a processor whose fit reads no data. [[DataPipeline.fit]]
  * never starts a new stage for such a step, since its (no-op) fit does not
  * care which frame it sees.
  */
trait Stateless extends DataProcessor

/** A processor whose whole fit is one global aggregate over its input
  * columns. `fitAggregate` returns that aggregate together with the setter
  * that takes the aggregate's value and sets the fitted state, so a caller
  * can fit many such processors from ONE `df.agg(...)`
  * ([[AggregateFit.fitAll]], which is also what every standalone `fit` of
  * these processors runs). `None` means the fitted state needs no data
  * (e.g. a constant fill) and has been set by the call itself.
  */
trait AggregateFit extends DataProcessor {
  def fitAggregate(df: DataFrame, inputCols: Seq[String]): Option[(Column, Any => Unit)]
}

object AggregateFit {

  /** Fit every `(processor, inputCols)` pair from one `df.agg` over `df`:
    * one Spark query however many pairs need data, none if no pair does.
    */
  def fitAll(df: DataFrame, fits: Seq[(AggregateFit, Seq[String])]): Unit = {
    val planned = fits.flatMap { case (p, ins) => p.fitAggregate(df, ins) }
    if (planned.nonEmpty) {
      val aggs = planned.zipWithIndex.map { case ((agg, _), i) => agg.as(s"_agg$i") }
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      planned.zipWithIndex.foreach { case ((_, set), i) => set(row.get(i)) }
    }
  }
}

/** 1:1 processor whose transform is a FRAME rewrite, not a per-row Column
  * expression — for operators whose fitted state is itself distributed (a
  * join against a fitted table) and therefore cannot compile to one scalar
  * expression. The pipeline applies these as `df → df` steps; everything
  * narrow on either side still fuses into single projections.
  */
trait FrameLevelProcessor extends DataProcessor {
  def fit(df: DataFrame, inputCol: String): this.type = this
  def transformFrame(df: DataFrame, inputCol: String, outputCol: String): DataFrame
}

/** Name/alias registry — reference `Registry.get_subclass` keyed lookup
  * (`src/bears/reader/Reader.py:83-87`, `util/language/_typing.py:155-371`).
  * Factories take the raw params map from a pipeline config step.
  */
object ProcessorRegistry {
  type Params = Map[String, Any]
  private val factories = scala.collection.mutable.Map[String, Params => DataProcessor]()

  def register(names: Seq[String])(f: Params => DataProcessor): Unit =
    names.foreach(n => factories(n.toLowerCase) = f)

  def create(name: String, params: Params): DataProcessor =
    factories.getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(
        s"unknown processor '$name'; known: ${factories.keys.toSeq.sorted.mkString(", ")}"))
      .apply(params)

  def known: Seq[String] = factories.keys.toSeq.sorted

  // touch the registrant objects so their registrations run before first lookup
  Processors.registerAll()
  ScalableEncoders.registerAll()
}
