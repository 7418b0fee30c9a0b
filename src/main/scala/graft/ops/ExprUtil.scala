package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Expression-level common-subexpression control for the interpreted
  * (CodegenFallback) hot path.
  *
  * Higher-order functions sit outside whole-stage codegen in Spark 4,
  * and interpreted expression evaluation performs NO common-subexpression
  * elimination — an expression tree that references a non-cheap subtree
  * (`split(text, ' ')`, a per-shingle md5 pass) k times pays it k times
  * PER ROW. [[bindOnce]] forces single evaluation inside ONE Column:
  * the subtree becomes the input of a single-element higher-order
  * `transform`, whose lambda variable is evaluated once and then read —
  * not recomputed — by every reference in the body. This is the
  * expression-level twin of the staged-projection discipline (a
  * multiply-referenced non-cheap alias, which CollapseProject keeps as a
  * Project boundary — [[Dedup.minhashSignature]]'s mins column):
  * projections stage DataFrame columns, `bindOnce` stages subtrees
  * where only a single Column is allowed (scalar predicates,
  * streaming-legal stateless projections, nested HOF ladders).
  *
  * Measured (OPTIMIZATION_r20.md, sf0.1, local[32], interleaved
  * noop-sink A/B): 3-gram shingle explode 1.5-2.1 s → 0.4-0.6 s (the
  * tree referenced the split 4×); the 16-hash band-key ladder
  * 25.6-28.2 s → 1.1 s (k inlined copies of the per-shingle md5 pass
  * → one); qualityExpr filter 0.16-0.27 → 0.14-0.20 s.
  *
  * Output is bitwise-identical to the inline form by construction: the
  * lambda body IS the old expression with the shared subtree replaced
  * by the bound value (null inputs included — the bound value is the
  * evaluated subtree, null or not; `array(e)` is never null, so the
  * outer transform always applies the lambda).
  */
object ExprUtil {

  /** Evaluate `c` once per row and feed the value to `f`'s references. */
  def bindOnce(c: Column, f: Column => Column): Column =
    element_at(transform(array(c), f), 1)
}
