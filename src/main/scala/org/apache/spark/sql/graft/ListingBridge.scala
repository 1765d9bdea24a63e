package org.apache.spark.sql.graft

import org.apache.spark.util.HadoopFSUtils

/** Bridge to Spark's `private[spark]` file-listing name rule, so a
  * listing done outside a file index leaves out exactly the files and
  * directories Spark's own `InMemoryFileIndex` leaves out.
  */
object ListingBridge {

  /** True when Spark's file listing skips a file or directory named
    * `name`: `_`-prefixed (except `k=v` partition directories and the
    * `_metadata`/`_common_metadata` summaries), `.`-prefixed, or an
    * in-flight `._COPYING_` copy.
    */
  def skipped(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)
}
