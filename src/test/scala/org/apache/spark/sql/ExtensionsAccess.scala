package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** Spark keeps `SparkSessionExtensions.registerFunctions` package-private;
  * the extensions spec calls it the way a session build does.
  */
object ExtensionsAccess {
  def registerFunctions(e: SparkSessionExtensions, into: FunctionRegistry): FunctionRegistry =
    e.registerFunctions(into)
}
