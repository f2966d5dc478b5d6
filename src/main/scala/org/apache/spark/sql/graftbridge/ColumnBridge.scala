package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ catalyst Expression bridge. Spark 4 scopes ExpressionUtils
  * `private[sql]`, so this one-file shim lives under the spark.sql package
  * namespace — the standard technique third-party Catalyst extensions use
  * to lift custom expressions into the public Column API.
  */
object ColumnBridge {
  def column(e: Expression): Column   = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Listener-bus bridge for the measurement tools: `listenerBus` is
  * `private[spark]`, and the probes need a deterministic drain so async
  * job/stage/task events can't be attributed to the wrong timed pass
  * (round-18; the previous fixed 120 ms sleep raced under load).
  */
object ListenerBridge {
  def waitUntilEmpty(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}

/** Shutdown-hook bridge: `ShutdownHookManager` is `private[spark]`.
  * Dirs registered here are deleted by Spark's temp-dir hook, which runs
  * after the SparkContext's own stop hook.
  */
object ShutdownBridge {
  def deleteAtExit(dir: java.io.File): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(dir)
}
