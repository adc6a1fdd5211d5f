package graft

import org.apache.spark.sql.SparkSession

/** Runs a body with every projection either compiled (no interpreted
  * fallback) or interpreted, so a native expression is checked on both of
  * its evaluation paths. */
object CodegenModes {

  val both: Seq[String] = Seq("CODEGEN_ONLY", "NO_CODEGEN")

  def withCodegenMode[T](spark: SparkSession, mode: String)(body: => T): T = {
    val confs = Seq("spark.sql.codegen.factoryMode" -> mode,
      "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString,
      "spark.sql.codegen.fallback" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
