package graft

import org.apache.spark.sql.SparkSession

/** One session for the whole test JVM (suites must not stop it). */
object SharedSpark {
  lazy val spark: SparkSession = Session.getOrCreate("graft-tests")
}
