package org.apache.spark.sql.graftbridge

import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** The Spark schema of one parquet footer, converted exactly as Spark's
  * own schema inference converts it (the Spark row metadata when the
  * writer left it, else the parquet schema under the session's
  * conversion settings) — `ParquetFileFormat.readSchemaFromFooter`,
  * which is package-private to Spark. */
object ParquetBridge {
  def footerSchema(footer: Footer): StructType =
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(SQLConf.get))
}
