package org.apache.spark.graftshim

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration

/** Bridge to the `private[spark]` [[SerializableConfiguration]] — the
  * standard (and only) Spark-provided way to ship the session's Hadoop
  * configuration into executor tasks (a bare `Configuration` is not
  * serializable; a bare `new Configuration()` on the executor loses the
  * session's `spark.hadoop.*` credentials / fs impls). Lives in the
  * `org.apache.spark` package tree solely for access; contains no
  * Spark-internal logic. Same pattern as
  * [[org.apache.spark.sql.graftshim.ColumnShim]].
  */
class SerializableHadoopConf private (
    inner: Broadcast[SerializableConfiguration]) extends Serializable {
  def value: Configuration = inner.value.value
}

object SerializableHadoopConf {
  /** The ACTIVE session's Hadoop conf, captured driver-side for shipping
    * into executor tasks — the one place that builds this, so a future
    * change (e.g. merging per-query options) lands everywhere. Must be
    * called on the driver (readers receive the captured instance). The
    * conf travels as a broadcast, as Spark's own file scans ship it: a
    * task's serialized lineage then carries a broadcast id, not the
    * whole conf, so every task downstream of a scan — including tasks
    * that only read a cache built over it — skips deserializing it. */
  def session(): SerializableHadoopConf = {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    new SerializableHadoopConf(
      sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration)))
  }
}
