package graft

import org.apache.spark.sql.SparkSession

/** The local filesystem under its own scheme (`graftlocal:///abs/path`).
  * Registered as `fs.graftlocal.impl` on a session's Hadoop conf, it puts
  * a second, non-default filesystem into a local session: code that
  * resolves a path against the DEFAULT filesystem instead of the path's
  * own fails on it with "Wrong FS". Fault-injecting test filesystems
  * extend it. */
class SchemeLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  // a def, not a val: RawLocalFileSystem's constructor already calls it
  override def getUri: java.net.URI = SchemeLocalFileSystem.Uri
  override def getScheme: String = SchemeLocalFileSystem.Scheme
}

object SchemeLocalFileSystem {
  val Scheme = "graftlocal"
  val Uri: java.net.URI = java.net.URI.create(s"$Scheme:///")

  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[SchemeLocalFileSystem].getName)

  /** An absolute local path as a path on this scheme. */
  def on(localPath: String): String = s"$Scheme://$localPath"
}
