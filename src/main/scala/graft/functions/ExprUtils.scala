package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Expression-level let-binding.
  *
  * Spark `Column`s are expression TREES: a Scala `val toks = tokens(text)`
  * referenced three times builds three copies of the tokenization subtree,
  * and a copy referenced inside a higher-order-function lambda
  * (`transform(seq, i => slice(toks, i, n))`) is re-evaluated once PER
  * ELEMENT — turning an O(tokens) tokenization into O(tokens²) work per
  * row (measured: shingling 5000 fixture docs cost 7.7 s; bound, ~0.3 s).
  * Catalyst has no common-subexpression elimination inside lambda bodies,
  * and CollapseProject can't help an expression that was never split into
  * a named column in the first place.
  *
  * `bind(e)(f)` evaluates `e` exactly once per row and hands `f` a lambda
  * VARIABLE bound to the result: `transform(array(e), x => f(x))[1]`.
  * Works for any data type, null-safe (an all-null `e` flows through as a
  * null element), and purely expression-level — no extra Project, no
  * cache, usable inside operators that must return a single `Column`. */
object ExprUtils {

  def bind(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), x => f(x)), 1)
}
