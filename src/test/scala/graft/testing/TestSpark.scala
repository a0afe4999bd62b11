package graft.testing

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One shared local session for the whole forked test JVM, built by the
  * library's session policy at a fixed 4 cores whatever the host.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-tests", Some("local[4]"), Some(4))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // whole-frame windows warn on every run; the registry sweep's window
    // guard already pins each one to a bounded table
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    GraftSession.quietCheckpointRelease()
    s
  }
}
