package org.apache.spark

/** Test access to the running context's conf, which is package-private:
  * a spec can change a setting that Spark reads per job (e.g.
  * `spark.driver.maxResultSize`, read by every task set) for the span of
  * `body`. */
object LiveConf {
  def withSetting[T](sc: SparkContext, key: String, value: String)(body: => T): T = {
    val prev = sc.conf.getOption(key)
    sc.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => sc.conf.set(key, v)
      case None => sc.conf.remove(key)
    }
  }
}
