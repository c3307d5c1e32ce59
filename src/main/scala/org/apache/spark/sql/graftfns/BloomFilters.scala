package org.apache.spark.sql.graftfns

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.util.sketch.BloomFilter

/** The Bloom filter builds of the semi-join and decontamination
  * operators. */
object BloomFilters {

  /** `df.stat.bloomFilter(column, expectedN, fpp)`, the same one
    * aggregate job, or None when `column` holds no non-null value: on
    * such input the aggregate's buffer is NULL, and `stat.bloomFilter`
    * fails reading it. An empty key set needs no filter. */
  def build(df: DataFrame, column: String, expectedN: Long,
            fpp: Double): Option[BloomFilter] = {
    val bits = BloomFilter.optimalNumOfBits(expectedN, fpp)
    val bytes = df.select(Column.internalFn("bloom_filter_agg",
        col(column), lit(expectedN), lit(bits)))
      .as(Encoders.BINARY).head()
    Option(bytes).map(BloomFilter.readFrom)
  }
}
