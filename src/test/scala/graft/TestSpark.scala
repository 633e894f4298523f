package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession every suite in the forked test JVM shares: the
  * engine session of [[graft.core.Sessions]] at 4 cores, over a warehouse
  * of its own. A suite that needs another runtime conf sets it with
  * [[withConf]], which restores it afterwards. */
object TestSpark {
  lazy val session: SparkSession = graft.core.Sessions.get(4,
    java.nio.file.Files.createTempDirectory("graft-test-wh-").toString)

  /** Run `body` with the runtime confs `kvs` set, then restore the values
    * they had before. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val conf = session.conf
    val saved = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
