package org.apache.spark.sql.graftbridge

import java.util.Properties

import org.apache.spark.SparkContext
import org.apache.spark.util.Utils

/** Bridge to the `private[spark]` per-thread local properties of the
  * active SparkContext (job description, job group, scheduler pool,
  * SQL execution id). A pool thread inherits them once, from the
  * thread that happened to create it; work handed to a pool carries
  * the submitter's current ones only if they are copied per task.
  */
object LocalPropsBridge {

  /** A copy of the calling thread's local properties; None without an
    * active SparkContext. */
  def capture(): Option[Properties] =
    SparkContext.getActive.map(sc => Utils.cloneProperties(sc.getLocalProperties))

  /** Run `body` with `props` as the calling thread's local properties,
    * then restore the thread's own. */
  def withProperties[T](props: Option[Properties])(body: => T): T =
    (props, SparkContext.getActive) match {
      case (Some(p), Some(sc)) =>
        val own = sc.getLocalProperties
        sc.setLocalProperties(p)
        try body finally sc.setLocalProperties(own)
      case _ => body
    }
}
