package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, Dataset, SparkSession, classic}
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

/** Session-clone bridge for `graft.Sessions.withConf`: Spark 4 scopes
  * `cloneSession`, `withActive` and the `classic.Dataset` constructors
  * `private[sql]`.
  * A clone shares the SparkContext, cache manager and external catalog
  * with its parent and copies the parent's conf, functions and temp
  * views; what the clone then sets or registers stays on the clone.
  */
object SessionBridge {
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `body` with `spark` as this thread's active session, so what reads
    * the conf through `SQLConf.get` (plan statistics, for one) sees
    * `spark`'s; the previous active session is restored after.
    */
  def withActive[T](spark: SparkSession)(body: => T): T =
    spark.withActive(body)

  /** `ds`'s plan and encoder, planned and executed under `session`. */
  def rebind[T](ds: Dataset[T], session: SparkSession): Dataset[T] =
    classic.Dataset(session.asInstanceOf[classic.SparkSession],
                    ds.asInstanceOf[classic.Dataset[T]].logicalPlan)(
                    ds.encoder)
}
