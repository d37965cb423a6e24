package graft

import org.apache.hadoop.conf.Configuration

/** Java-serializable Hadoop Configuration carrier (Spark's own
  * SerializableConfiguration is private[spark]): the session's resolved
  * Hadoop conf is captured ONCE on the driver and rides inside task
  * closures to executors — so spark.hadoop.*, s3a credentials/endpoints,
  * and a custom defaultFS all reach every getFileSystem call on both
  * sides, exactly as Spark's built-in file writers propagate it.
  * `new Configuration()` on an executor would silently drop all of those
  * (fine on local FS, wrong everywhere else). Used by the NDJSON sink
  * (graft.sinks.NdjsonSink) and the DSv2 batch connector, which both
  * publish through [[StagedPublish]] on the FileSystem it resolves. */
private[graft] class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit =
    value.write(out)
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    value = new Configuration(false)
    value.readFields(in)
  }
}
