package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.{ColumnBridge, ScalarParam}

/** Driver-computed per-step scalars for the fixed-iteration drivers
  * (opt guide "expressions and codegen": eliminate what defeats
  * whole-stage-codegen reuse).
  *
  * Every fixed-iteration driver in the library (Newton, IRLS, EM)
  * used to re-build its step aggregate with the step's coefficients
  * embedded as `lit(...)`. Literal primitives are INLINED into the
  * generated Java source, so each step's whole-stage-codegen source
  * was unique and the Janino class cache (keyed on source text)
  * missed every step — on a small/cached frame the dominant fixed
  * cost of an iteration was Janino compilation, not data (measured:
  * `artifacts/r15opt/codegen_probe.log`, 9-sum aggregate over a cached
  * sf0.1-sized frame — literal steps pay 2 codegen compilations per
  * step; [[scalar]] steps compile on step 1 only; pinned by
  * `ParamSpec` "scalar steps reuse one codegen source").
  *
  * [[scalar]] wraps the value in [[ScalarParam]], a non-foldable leaf
  * expression whose codegen reads the constant from the `references`
  * array instead of the source text: plan shape, partitioning and
  * arithmetic are identical to the literal version (same IEEE double,
  * same expression tree), only the generated source stops changing
  * step-over-step.
  *
  * A broadcast one-row parameter RELATION was measured first and
  * REJECTED: the per-step BroadcastExchange/BNLJ overhead cost more
  * than the saved compiles at bench grain (interleaved A/B
  * `artifacts/r15opt/ab_param.log`: 1.12-1.32x regression across the
  * 8-query family). The expression form adds no plan nodes at all.
  */
object Param {

  /** The exact double `v` as a codegen-cache-friendly constant column. */
  def scalar(v: Double): Column = ColumnBridge.column(ScalarParam(v))
}
