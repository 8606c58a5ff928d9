package graft.ml

import org.apache.spark.rdd.RDD

/** The one way a trainer sums per-partition partials (gradients, losses,
  * counts, batch statistics). Each partition fills a fresh zero array;
  * the driver collects the partials and adds them in PARTITION-INDEX
  * order, starting from zeros. Spark's `treeAggregate`/`treeReduce`
  * merge partials in task-completion order, so under `local[N > 1]` or
  * on a cluster the floating-point sum — and every fitted weight —
  * would vary from run to run; here the order is fixed by the data's
  * partitioning alone, and a seeded fit repeats bit for bit.
  *
  * Gradient partials use the layout `[sums (sz) | loss | count]` (slots
  * past `sz + 2` are free for extras such as BatchNorm statistic sums);
  * [[mean]] owns the division by the count slot. */
private[ml] object PartitionSum {

  /** Runs `fill(partIdx, rows, acc)` once per partition on a zero
    * `acc` of length `len`, then sums the partials on the driver in
    * partition-index order. `partIdx` is the partition's index in
    * `rdd`, the seed input of every per-partition dropout mask and
    * batch shuffle. */
  def sum[T](rdd: RDD[T], len: Int)(
      fill: (Int, Iterator[T], Array[Double]) => Unit): Array[Double] = {
    val parts = rdd.mapPartitionsWithIndex { (part, rows) =>
      val acc = new Array[Double](len)
      fill(part, rows, acc)
      Iterator.single(acc)
    }.collect()
    val total = new Array[Double](len)
    parts.foreach { p =>
      var i = 0
      while (i < len) { total(i) += p(i); i += 1 }
    }
    total
  }

  /** (mean gradient, mean loss) from a `[sums | loss | count]` total:
    * slots `0 until sz` and slot `sz` divided by slot `sz + 1`. The
    * count slot holds a row count, a batch count or a sample-weight
    * sum; the 1e-12 floor only guards an empty epoch (every sum then is
    * +0.0, and so is every quotient) and leaves a fractional weight sum
    * below 1 exact. */
  def mean(sums: Array[Double], sz: Int): (Array[Double], Double) = {
    val cnt = math.max(sums(sz + 1), 1e-12)
    (Array.tabulate(sz)(i => sums(i) / cnt), sums(sz) / cnt)
  }
}
