package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}

/** `SparkSessionExtensions.registerFunctions` is private[sql]: this bridge
  * lets a test read what an extension injects without building a second
  * session. */
object ExtensionsBridge {
  def injectedFunctions(ext: SparkSessionExtensions): FunctionRegistry =
    ext.registerFunctions(new SimpleFunctionRegistry)
}
