package org.apache.spark.sql

/** A session over `root`'s SparkContext and shared state whose session
  * state is built with `extensions` injected, the way a builder's
  * `withExtensions` would build it. Unlike a builder it leaves the
  * active and default sessions alone, so no other suite ever sees the
  * extensions. Spark keeps the constructor that shares a parent's state
  * private, hence the reflective call.
  */
object ExtendedSession {
  def apply(root: SparkSession, extensions: SparkSessionExtensions => Unit): SparkSession = {
    val parent = root.asInstanceOf[classic.SparkSession]
    val ext = new SparkSessionExtensions
    extensions(ext)
    classOf[classic.SparkSession].getConstructors.find(_.getParameterCount == 6).get
      .newInstance(parent.sparkContext, Some(parent.sharedState), None, ext,
        Map.empty[String, String], Map.empty[String, String])
      .asInstanceOf[SparkSession]
  }
}
