package org.apache.spark.sql.graftfns

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Attaches a 1-based global row index to an ALREADY partitioned+sorted
  * DataFrame — the `RDD.zipWithIndex` pattern lifted to Datasets.
  *
  * Why this drops to the RDD layer (the one sanctioned use: genuinely
  * per-partition imperative logic): the declarative formulation — rank
  * locally, then join per-partition count offsets computed from a second
  * reference to the same subtree — evaluates that subtree TWICE unless
  * exchange reuse unifies them, and reuse is not guaranteed: column
  * pruning gives the counts branch a narrower scan, the canonicalized
  * exchanges differ, and each evaluation's RangePartitioner samples its
  * own boundaries. Two independently sampled boundary sets silently
  * corrupt every rank (the offsets are keyed against the wrong partition
  * space). Here there is exactly ONE physical plan instance: the count
  * job materializes its shuffle once, the index job re-reads those same
  * shuffle files (the map stages are skipped), and the partition
  * boundaries are immutable driver-side state of the single partitioner.
  *
  * Scale shape: one full-data shuffle (the caller's range partition), a
  * metadata-cheap counting job over shuffle output, then a streaming
  * per-partition map. No window, no SinglePartition exchange, no
  * broadcast join. The offsets array is numPartitions × (1 + weights)
  * longs — the only driver-scale piece. */
object GlobalIndex {

  /** `df` with `rankCol` attached, and the total row count — the count
    * is a BYPRODUCT of the offsets job this pattern already runs, so a
    * caller needing N (e.g. a ring modulus) saves a whole separate
    * count job.
    *
    * Each `(weight, sumCol)` of `runningSums` names a LONG column of
    * `df` and the column to attach: the sum of `weight` over the rows
    * before this one, in index order (a null weight counts 0). The
    * same counting job sums the weights per partition, so the running
    * sums cost no job of their own. */
  def attachWithTotal(df: DataFrame, rankCol: String,
                      runningSums: Seq[(String, String)] = Nil)
      : (DataFrame, Long) = {
    val spark = df.sparkSession
    val rdd = df.queryExecution.toRdd
    val weights = runningSums.map(w => df.schema.fieldIndex(w._1)).toArray
    require(weights.forall(df.schema(_).dataType == LongType),
      "running-sum weights must be LONG")
    // per partition: the row count, then each weight's sum
    val totals = spark.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) =>
      it.foldLeft(new Array[Long](1 + weights.length))(add(_, _, weights)))
    val offsets = totals.scanLeft(new Array[Long](1 + weights.length))(
      (a, b) => a.zip(b).map { case (x, y) => x + y })
    val offBc = spark.sparkContext.broadcast(offsets)
    val out = rdd.mapPartitionsWithIndex { case (pid, it) =>
      val acc = offBc.value(pid).clone()
      it.map { row =>
        // the index counts this row, the running sums do not
        val attached = acc.map(v => v: Any)
        attached(0) = acc(0) + 1
        add(acc, row, weights)
        // copy: the scan iterator reuses its UnsafeRow backing buffer
        new JoinedRow(row.copy(),
          new GenericInternalRow(attached)): InternalRow
      }
    }
    val schema = StructType(df.schema.fields ++
      (rankCol +: runningSums.map(_._2))
        .map(StructField(_, LongType, nullable = false)))
    (spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(out, schema), offsets.last(0))
  }

  /** Counts `row` into `acc(0)` and adds its weights into the rest. */
  private def add(acc: Array[Long], row: InternalRow,
                  weights: Array[Int]): Array[Long] = {
    acc(0) += 1
    for (j <- weights.indices if !row.isNullAt(weights(j)))
      acc(j + 1) += row.getLong(weights(j))
    acc
  }

  /** `c`, declared non-null; a null throws. Parquet reads every column
    * back as nullable, so an id computed from a staged index or running
    * sum needs this to keep the NOT NULL it was written with. */
  def notNull(c: Column): Column =
    ExpressionUtils.column(AssertNotNull(ExpressionUtils.expression(c)))
}
