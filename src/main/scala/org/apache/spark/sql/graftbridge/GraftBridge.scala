package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.types.BinaryType

/** Column ⇄ Expression bridge. `ExpressionUtils` is `private[sql]` in
  * Spark 4, so libraries that define native Catalyst expressions expose
  * them through a shim in the `org.apache.spark.sql` package — the same
  * approach Spark ecosystem libraries use. This object and the expressions
  * behind it are the ONLY code outside `graft.*`.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Lazy wrapper — fine inside DataFrame plans, where the analyzer
    * unwraps it during plan conversion.
    */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eager conversion to a real Catalyst tree — required when the result
    * must be analyzable on its own (e.g. returned from a function-registry
    * builder): the lazy `ColumnNodeExpression` wrapper is Unevaluable and
    * opaque to the analyzer there.
    */
  def convertedExpression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** LogicalPlan → DataFrame (`Dataset.ofRows` is `private[sql]`) — the
    * SQL DML commands capture the statement's source subplan at analysis
    * time and materialize it through the normal analyzer/optimizer here.
    */
  def dataFrame(session: org.apache.spark.sql.SparkSession,
                plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Distributed Bloom-filter build over a LONG column (pre-hash with
    * `xxhash64`): executors fill partial sketches, the driver merges —
    * the same machinery Spark's runtime row-filtering injects. Sizing is
    * clamped to the session's runtime-bloom-filter caps
    * (`spark.sql.optimizer.runtime.bloomFilter.maxNumItems` /
    * `.maxNumBits`) because the aggregate's own type check enforces
    * them; raise those confs for corpus-scale sketches.
    */
  def bloomFilterAgg(hashed: Column, numItems: Long, fpp: Double): Column = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val maxItems = conf.getConf(org.apache.spark.sql.internal.SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_ITEMS)
    val maxBits = conf.getConf(org.apache.spark.sql.internal.SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_BITS)
    val n = math.max(1L, math.min(numItems, maxItems))
    val optimalBits = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val bits = math.max(64L, math.min(optimalBits, maxBits))
    ExpressionUtils.column(
      new BloomFilterAggregate(convertedExpression(hashed), Literal(n), Literal(bits))
        .toAggregateExpression())
  }

  /** Map-side membership probe against a built sketch (value pre-hashed
    * with the same `xxhash64`).
    */
  def bloomMightContain(bloom: Array[Byte], hashedValue: Column): Column =
    ExpressionUtils.column(BloomFilterMightContain(
      Literal(bloom, BinaryType), convertedExpression(hashedValue)))

  /** V1 `Sink.addBatch` hands a DataFrame whose logical plan is
    * streaming-internal (a second action on it re-plans against the
    * source); re-wrap its physical rows as a PLAIN batch DataFrame so
    * normal table writes can run on it — the established V1-sink
    * pattern (`internalCreateDataFrame` is `private[sql]`).
    */
  def batchDataFrame(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** The inverse, for V1 `Source.getBatch`: the returned DataFrame must
    * be streaming-flagged or the engine rejects it as a batch plan.
    */
  def streamingDataFrame(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** Undo [[streamingDataFrame]]'s flag so a `getBatch` result's CONTENT
    * can be asserted without running the engine (batch execution refuses
    * streaming-flagged plans) — spec support for source unit tests.
    */
  def unwrapStreaming(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .internalCreateDataFrame(l.rdd, df.schema, isStreaming = false)
      case _ => df
    }
}
