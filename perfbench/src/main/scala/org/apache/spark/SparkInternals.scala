package org.apache.spark

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.NonFateSharingCache

/** Spark internals the benchmark harness reaches: the listener bus, which
  * the tracer waits on so every event of a query is counted before the
  * next starts, and the JVM-wide codegen cache, emptied before each
  * set-up so that every set-up pays its compiles. */
object SparkInternals {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def clearCodegenCache(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    m.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]].invalidateAll()
  }
}
