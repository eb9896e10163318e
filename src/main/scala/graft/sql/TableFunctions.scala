package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL table-valued-function surface for the high-value TABLE-level
  * operators, so a SQL-first user can run them without touching the
  * Scala API:
  *
  * {{{
  *   SELECT * FROM graft_sessions('events_view', 'ts', 'user_id',
  *                                'value', 1800)
  *   SELECT * FROM graft_exact_dedup('documents_view', 'doc_id', 'text')
  *   SELECT * FROM graft_asof('trades_view', 'quotes_view',
  *                            'symbol', 'ts', 'price')
  * }}}
  *
  * Each TVF takes the INPUT TABLE(S) BY NAME (any temp view or catalog
  * table visible to the session) plus column-name/parameter literals,
  * and expands at analysis time into the exact logical plan the Scala
  * operator builds — same shuffles, same pushdown, zero extra layers.
  * Available two ways: injected at session build by
  * [[graft.GraftExtensions]], or imperatively via [[register]] on an
  * existing session.
  */
object TableFunctions {

  /** (name, info, builder) triples in the injectTableFunction shape. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan)] = Seq(
    (FunctionIdentifier("graft_sessions"),
      info("graft_sessions", graft.events.Sessionize.getClass),
      (es: Seq[Expression]) => {
        val ctx = "graft_sessions(table, tsCol, userCol, valueCol, gapSeconds)"
        requireArgs(es, 5, ctx)
        plan(graft.events.Sessionize.sessions(
          table(litStr(es(0), ctx)), litStr(es(1), ctx),
          litStr(es(2), ctx), litStr(es(3), ctx), litLong(es(4), ctx)))
      }),
    (FunctionIdentifier("graft_exact_dedup"),
      info("graft_exact_dedup", graft.dedup.Dedup.getClass),
      (es: Seq[Expression]) => {
        val ctx = "graft_exact_dedup(table, idCol, textCol)"
        requireArgs(es, 3, ctx)
        plan(graft.dedup.Dedup.exactDedup(
          table(litStr(es(0), ctx)), litStr(es(1), ctx),
          litStr(es(2), ctx)))
      }),
    (FunctionIdentifier("graft_asof"),
      info("graft_asof", graft.join.AsOfJoin.getClass),
      (es: Seq[Expression]) => {
        val ctx = "graft_asof(leftTable, rightTable, keyCol, timeCol, payloadCol)"
        requireArgs(es, 5, ctx)
        plan(graft.join.AsOfJoin.asOfBackward(
          table(litStr(es(0), ctx)), table(litStr(es(1), ctx)),
          litStr(es(2), ctx), litStr(es(3), ctx),
          Seq(litStr(es(4), ctx))))
      }))

  /** Imperative registration on a live session — for sessions not built
    * through GraftExtensions (notebooks, existing deployments). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.tableFunctionRegistry
    all.foreach { case (id, _, builder) =>
      reg.createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
  }

  private def info(name: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getCanonicalName, name)

  // TVF builders run inside analysis, where the resolving session is
  // the active one — the same session whose catalog holds the view
  // names the literals refer to.
  private def table(name: String) = SparkSession.active.table(name)

  private def plan(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    df.queryExecution.logical

  private def requireArgs(es: Seq[Expression], n: Int, ctx: String): Unit =
    if (es.length != n) throw new IllegalArgumentException(
      s"$ctx expects $n arguments, got ${es.length}")

  private def litStr(e: Expression, ctx: String): String = e match {
    case Literal(s: UTF8String, StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"$ctx requires string literals for table/column names, got $other")
  }

  private def litLong(e: Expression, ctx: String): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType) => v
    case other => throw new IllegalArgumentException(
      s"$ctx requires an integer literal, got $other")
  }
}
