package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Sketch-then-verify operators: a bounded-memory sketch proposes a
  * GUARANTEED SUPERSET of the answer, and one exact pass restricted to
  * the candidates removes the overshoot — so the result is exact while
  * the unbounded-cardinality aggregation state never materializes.
  * Inputs read by several passes sit behind a lazy `localCheckpoint`:
  * building the operator runs their shuffle stages (AQE), and the
  * ContextCleaner frees the blocks once the result is unreachable.
  */
object Sketches {

  /** Misra–Gries summary as a typed [[Aggregator]] (the §2.10 custom-UDAF
    * surface): at most `k` counters per buffer. The classic guarantee
    * (Misra & Gries 1982, public): any item with global frequency
    * > N/(k+1) has a positive counter in the merged summary — decrements
    * are paid by k+1 distinct items at once, so at most N/(k+1) can hit
    * any survivor. Merging two summaries sums counters then re-shrinks by
    * subtracting the (k+1)-th largest count, which preserves the bound
    * (Agarwal et al., "Mergeable Summaries", PODS'12 — public). */
  final class MisraGries(k: Int)
      extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    require(k > 0)
    def zero: Map[String, Long] = Map.empty

    def reduce(m: Map[String, Long], term: String): Map[String, Long] =
      m.get(term) match {
        case Some(c) => m.updated(term, c + 1)
        case None if m.size < k => m.updated(term, 1L)
        case None =>
          // full and unseen: decrement ALL counters (k+1 items pay 1 each,
          // counting the arriving one), drop zeros
          m.flatMap { case (t, c) => if (c > 1) Some(t -> (c - 1)) else None }
      }

    def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
      val sum = b.foldLeft(a) { case (m, (t, c)) =>
        m.updated(t, m.getOrElse(t, 0L) + c)
      }
      if (sum.size <= k) sum
      else {
        // subtract the (k+1)-th largest count from every counter
        val cut = sum.valuesIterator.toArray.sortBy(-_).apply(k)
        sum.flatMap { case (t, c) => if (c > cut) Some(t -> (c - cut)) else None }
      }
    }

    def finish(m: Map[String, Long]): Map[String, Long] = m
    def bufferEncoder: Encoder[Map[String, Long]] =
      Encoders.kryo[Map[String, Long]]
    def outputEncoder: Encoder[Map[String, Long]] =
      Encoders.kryo[Map[String, Long]]
  }

  /** Exact heavy hitters over an unbounded term domain: every term whose
    * frequency × `denom` ≥ N (i.e. freq ≥ N/denom), found WITHOUT ever
    * aggregating the full term domain. Pass 1 counts N and folds the stream
    * into one Misra–Gries summary (`k` counters per partial, k ≥ denom so the
    * superset guarantee freq > N/(k+1) covers the N/denom threshold);
    * pass 2 does the exact count ONLY for the ≤ k candidate terms
    * (broadcastable filter — the exact aggregation state is k-bounded, not
    * vocabulary-bounded). Returns (term, n), exact. */
  def heavyHitters(terms: Dataset[String], denom: Int,
                   k: Int = 256): DataFrame = {
    require(k >= denom, s"k=$k must be >= denom=$denom for the MG superset guarantee")
    import terms.sparkSession.implicits._
    // barrier: TWO passes read `terms` (MG summary with the total count,
    // then the exact candidate count) — without it the term stream's
    // upstream (tokenize + explode) re-ran per pass, and the exactness
    // argument leaned on the input replaying deterministically
    val t = terms.localCheckpoint(eager = false)
    val (summary, total) = t.select(new MisraGries(k).toColumn, count(lit(1)).as[Long]).head()
    val candidates = summary.keys.toSeq
    t.toDF("term")
      .where(col("term").isin(candidates: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .where(col("n") * denom >= total)
  }
}
