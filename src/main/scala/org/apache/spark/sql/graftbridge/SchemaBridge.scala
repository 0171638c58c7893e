package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.types.StructType

/** `StructType.asNullable` is `private[spark]`; the table scan needs it to
  * give its relation the all-nullable schema Spark's own file reader gives
  * (`DataSource` applies the same call).
  */
object SchemaBridge {
  def asNullable(schema: StructType): StructType = schema.asNullable
}
