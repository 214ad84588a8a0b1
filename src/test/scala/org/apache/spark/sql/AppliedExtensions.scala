package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}

/** Specs' access to the `private[sql]` function-injection hook of
  * [[SparkSessionExtensions]]. */
object AppliedExtensions {
  /** Applies `configure`'s function injections to a fresh registry and
    * returns it — what `spark.sql.extensions=graft.GraftExtensions` would
    * register, without tearing down the shared test session (the builder
    * ignores `withExtensions` when a session already exists). */
  def functionRegistry(configure: SparkSessionExtensions => Unit): FunctionRegistry = {
    val ext = new SparkSessionExtensions
    configure(ext)
    ext.registerFunctions(new SimpleFunctionRegistry)
  }
}
