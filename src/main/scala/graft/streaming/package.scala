package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

package object streaming {

  /** The parquet store at `path` read with the explicit DDL `schema`,
    * or an empty frame of that schema when `path` does not exist yet.
    * The explicit schema also keeps a store that has only seen empty
    * batches (no parquet footers to infer from) readable — the read
    * side of every batch_id-partitioned sink store. */
  private[streaming] def readOrEmpty(spark: SparkSession, path: String,
      schema: String): DataFrame = {
    val p = new Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType.fromDDL(schema))
  }
}
