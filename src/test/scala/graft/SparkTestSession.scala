package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (spark_guide.md: one session
  * per suite via lazy val; sharing across suites is fine since config is
  * identical and immutable). Built through the production builder, so the
  * suite runs the conf `Bench` and `Verify` run (see SessionSpec). */
object SparkTestSession {
  lazy val spark: SparkSession = graft.core.Session.local(4, 4)

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
