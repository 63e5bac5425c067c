package org.apache.spark.sql.graftx

import org.apache.spark.sql.types.StructType

/** `s` with every field, element and value nullable: the data schema a
  * file-source load gives (`StructType.asNullable`, which is
  * `private[spark]`).
  */
object Nullable {
  def apply(s: StructType): StructType = s.asNullable
}
