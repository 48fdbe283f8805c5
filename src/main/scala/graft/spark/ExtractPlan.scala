package graft.spark

import graft.extract.{ExtractOptions, Extractor}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._
import org.apache.spark.util.CollectionAccumulator

import scala.collection.mutable

/** The extraction operator (SURVEY.md §4's "ExtractReadable logical node
  * for EXPLAIN visibility"): a custom `LogicalPlan` node + `SparkStrategy`
  * + physical `UnaryExecNode`, registered through [[GraftExtensions]]
  * (`injectPlannerStrategy`) or [[GraftExtensionsRegistrar]]. It is the
  * one loop that extracts a partition: [[ExtractJob]]'s batch faces,
  * [[StreamingExtract.extractStream]] and [[GraftOps.extractTurns]] all
  * plan to it, and it builds its output rows with the same
  * [[ExtractReadable.summaryRow]] as the `extract_readable` expression.
  *
  * The logical node requires child columns `conv_id:string`,
  * `turn_idx:int`, `text:string` (resolved by name at planning time), plus
  * `bucket:int` when a [[LineageSink]] is set, and emits the
  * [[ExtractedTurn]] schema. Only those columns are references, so column
  * pruning drops the rest (role/tool/ts) down to the scan. Execution is one
  * narrow partition-local pass — no exchange is introduced, so whatever
  * clustering the child has (e.g. an Iceberg bucketed scan) is preserved.
  */
case class ExtractTurnsNode(
    child: LogicalPlan,
    lineage: Option[LineageSink] = None,
    // expr-ids must be minted ONCE per node and survive copy() — a `def`
    // output would hand the analyzer fresh ids on every call
    override val output: Seq[Attribute] = ExtractTurnsNode.outputAttrs)
  extends UnaryNode {
  // all output attributes originate here, not in the child
  override def producedAttributes: AttributeSet = outputSet
  override def references: AttributeSet = {
    val cols = ExtractTurnsNode.inputCols ++ lineage.map(_ => "bucket")
    AttributeSet(child.output.filter(a => cols.contains(a.name.toLowerCase(java.util.Locale.ROOT))))
  }
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

object ExtractTurnsNode {
  val inputCols: Set[String] = Set("conv_id", "turn_idx", "text")

  def outputAttrs: Seq[Attribute] = Seq(
    AttributeReference("conv_id", StringType, nullable = false)(),
    AttributeReference("turn_idx", IntegerType, nullable = false)(),
    AttributeReference("confidence", DoubleType, nullable = false)(),
    AttributeReference("extracted_html", StringType, nullable = true)(),
    AttributeReference("extracted_text", StringType, nullable = false)(),
    AttributeReference("spans", ExtractReadable.schema("spans").dataType, nullable = false)(),
    AttributeReference("failed", BooleanType, nullable = false)())
}

/** Where an extraction operator reports per-bucket lineage: one
  * [[LineageRow]] per data-level bucket a task saw, added to `acc` when the
  * task's input is exhausted (deduplicated by bucket on read, so task
  * retries cannot double-count — [[ExtractJob.Result.lineageRows]]). */
final case class LineageSink(fingerprint: String, acc: CollectionAccumulator[LineageRow]) {
  override def toString: String = s"lineage($fingerprint)"
}

case class ExtractTurnsExec(outputAttrs: Seq[Attribute], lineage: Option[LineageSink],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = outputAttrs

  // outputAttrs are PRODUCED by this operator; without this they would
  // count as references and render the node "!"-invalid (missingInput)
  override def producedAttributes: AttributeSet = AttributeSet(outputAttrs)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "turns" -> SQLMetrics.createMetric(sparkContext, "number of turns"),
    "failed" -> SQLMetrics.createMetric(sparkContext, "number of failed turns"),
    "empty" -> SQLMetrics.createMetric(sparkContext, "number of empty turns"))

  override protected def doExecute(): RDD[InternalRow] = {
    def idx(name: String): Int = {
      val i = child.output.indexWhere(_.name.equalsIgnoreCase(name))
      require(i >= 0, s"extract_turns: child has no '$name' column " +
        s"(has ${child.output.map(_.name).mkString(", ")})")
      i
    }
    val (convIdx, turnIdx, textIdx) = (idx("conv_id"), idx("turn_idx"), idx("text"))
    val sink = lineage.orNull
    val bucketIdx = if (sink == null) -1 else idx("bucket")
    val (nTurns, nFailed, nEmpty) = (longMetric("turns"), longMetric("failed"), longMetric("empty"))
    val schema = StructType(outputAttrs.map(a =>
      StructField(a.name, a.dataType, a.nullable)))
    child.execute().mapPartitions { it =>
      val opts = ExtractOptions()
      val proj = UnsafeProjection.create(schema)
      val joined = new JoinedRow
      val stats = mutable.LongMap.empty[BucketStats]
      new Iterator[InternalRow] {
        private var pending = sink != null
        def hasNext: Boolean = {
          val h = it.hasNext
          if (!h && pending) {
            stats.foreach { case (bucket, s) => sink.acc.add(s.row(sink.fingerprint, bucket.toInt)) }
            pending = false
          }
          h
        }
        def next(): InternalRow = {
          val row = it.next()
          val text = row.getUTF8String(textIdx)
          // a null page fails, as in ExtractJob.extractTurn
          val s = Extractor.extract(if (text == null) null else text.toString, opts)
          val b = if (sink == null) null
            else stats.getOrElseUpdate(row.getInt(bucketIdx).toLong, new BucketStats)
          nTurns += 1
          if (s.failed) { nFailed += 1; if (b != null) b.nFail += 1 }
          else if (s.html == null) { nEmpty += 1; if (b != null) b.nEmpty += 1 }
          else if (b != null) b.ok(s.confidence)
          proj(joined(InternalRow(row.getUTF8String(convIdx), row.getInt(turnIdx)),
            ExtractReadable.summaryRow(s)))
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

/** One bucket's lineage counts within a task. */
private final class BucketStats {
  var nOk = 0L
  var nFail = 0L
  var nEmpty = 0L
  val hist = new Array[Long](ExtractJob.HistogramBins)
  val t0: Long = System.nanoTime()

  def ok(confidence: Double): Unit = {
    nOk += 1
    hist(math.min(math.max((confidence / 10).toInt, 0), ExtractJob.HistogramBins - 1)) += 1
  }

  def row(fingerprint: String, bucket: Int): LineageRow =
    LineageRow(fingerprint, bucket, nOk, nFail, nEmpty, hist,
      (System.nanoTime() - t0) / 1000000L)
}

/** Plans [[ExtractTurnsNode]] to [[ExtractTurnsExec]]. */
object ExtractTurnsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n @ ExtractTurnsNode(child, lineage, _) =>
      ExtractTurnsExec(n.output, lineage, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Public DataFrame API over the custom node. */
object GraftOps {
  /** `extractTurns(df)` — df must carry conv_id/turn_idx/text columns, and
    * an int `bucket` column when `lineage` is set. */
  def extractTurns(df: DataFrame, lineage: Option[LineageSink] = None): DataFrame = {
    val spark = df.sparkSession
    GraftExtensionsRegistrar.ensureStrategy(spark)
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      ExtractTurnsNode(org.apache.spark.sql.GraftSqlBridge.logicalPlan(df), lineage))
  }
}

/** Idempotent strategy registration for sessions not built with
  * `spark.sql.extensions=graft.spark.GraftExtensions`. */
object GraftExtensionsRegistrar {
  def ensureStrategy(spark: SparkSession): Unit = {
    val ss = spark.sessionState
    if (!ss.experimentalMethods.extraStrategies.contains(ExtractTurnsStrategy))
      ss.experimentalMethods.extraStrategies =
        ExtractTurnsStrategy +: ss.experimentalMethods.extraStrategies
  }
}
