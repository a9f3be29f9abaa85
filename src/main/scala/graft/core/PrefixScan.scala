package graft.core

import org.apache.spark.rdd.RDD

import scala.reflect.ClassTag

/** The distributed prefix scan: the one way the engine numbers rows or
  * carries a running value across partitions without funnelling them
  * through one task (reference: the creation-order enumeration of
  * pypeln/process/api/from_iterable.py:15-22).
  *
  * One job folds every partition but the last into a summary with
  * `step` from `zero`; the driver takes the exclusive prefix of those
  * summaries under `plus`, so `offsets(p)` is the summary of every
  * partition before `p`. The returned RDD then folds each partition's
  * rows on from its offset and emits every row with the state after it
  * (`emit(row, state)`): inclusive running values, a 1-based count for
  * a counting `step`. `plus` must agree with `step` (folding a partition
  * from offset `o` ends where `plus(o, its summary)` does), as it does
  * for count, sum and max.
  *
  * Contract: `rdd` is computed twice, once by the summary job (at call
  * time) and once by the pass. Callers hand in a source scan or a
  * persisted relation, never a lineage holding user functions or a
  * costly plan that would run again.
  */
object PrefixScan {
  def apply[A, S: ClassTag, B: ClassTag](rdd: RDD[A], zero: S)(step: (S, A) => S, plus: (S, S) => S)(
      emit: (A, S) => B): (RDD[B], Array[S]) = {
    val n = rdd.getNumPartitions
    val sums =
      if (n <= 1) Array.empty[S]
      else rdd.sparkContext.runJob(rdd, (it: Iterator[A]) => it.foldLeft(zero)(step), 0 until n - 1)
    val offsets = sums.scanLeft(zero)(plus).take(n)
    val out = rdd.mapPartitionsWithIndex((p, it) => {
      var s = offsets(p)
      it.map { a => s = step(s, a); emit(a, s) }
    }, preservesPartitioning = true)
    (out, offsets)
  }
}
