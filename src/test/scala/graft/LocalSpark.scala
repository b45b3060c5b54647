package graft

import org.apache.spark.sql.SparkSession

/** The test JVM's Spark. One root session, built once by the main-side
  * factory; every suite works on its own child of it, so the runtime
  * conf, temp views and temp functions one suite sets are invisible to
  * every other suite and to the root, whatever order the suites run in.
  * The children share the root's SparkContext, table catalog and cache.
  */
object LocalSpark {

  lazy val root: SparkSession = {
    val s = Session.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A new child of the root with `conf` set on its own runtime conf. */
  def session(conf: (String, String)*): SparkSession = {
    val s = root.newSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
}
