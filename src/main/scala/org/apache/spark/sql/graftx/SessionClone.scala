package org.apache.spark.sql.graftx

import org.apache.spark.sql.SparkSession

/** `classic.SparkSession.cloneSession()` is `private[sql]`; this is the
  * one door to it (used by [[graft.GraftExtensions.isolated]]). The
  * clone shares the SparkContext and the catalog and starts from a COPY
  * of the caller's session state: its current confs, runtime-set ones
  * included, its temp views and its functions. `newSession()` starts
  * from the builder's confs instead, so a conf the caller set at
  * runtime would be lost.
  */
object SessionClone {
  def apply(s: SparkSession): SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
