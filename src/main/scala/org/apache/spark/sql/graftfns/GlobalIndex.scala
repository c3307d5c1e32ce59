package org.apache.spark.sql.graftfns

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
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
  * broadcast join. The offsets array is numPartitions longs — the only
  * driver-scale piece. */
object GlobalIndex {

  /** `df` with `rankCol` attached, and the total row count — the count
    * is a BYPRODUCT of the offsets job this pattern already runs, so a
    * caller needing N (e.g. a ring modulus) saves a whole separate
    * count job. */
  def attachWithTotal(df: DataFrame, rankCol: String)
      : (DataFrame, Long) = {
    val spark = df.sparkSession
    val rdd = df.queryExecution.toRdd
    val counts = spark.sparkContext.runJob(rdd,
      (it: Iterator[InternalRow]) => {
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        n
      })
    val offsets = counts.scanLeft(0L)(_ + _)
    val offBc = spark.sparkContext.broadcast(offsets)
    val out = rdd.mapPartitionsWithIndex { case (pid, it) =>
      var i = offBc.value(pid)
      it.map { row =>
        i += 1
        // copy: the scan iterator reuses its UnsafeRow backing buffer
        new JoinedRow(row.copy(),
          new GenericInternalRow(Array[Any](i))): InternalRow
      }
    }
    val schema = StructType(df.schema.fields :+
      StructField(rankCol, LongType, nullable = false))
    (spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(out, schema), offsets.last)
  }
}
