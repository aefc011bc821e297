package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for the whole test JVM (suites reuse it).
  * Pinned to 4 cores whatever `SPARK_GRAFT_CPUS` says, so specs see the
  * same partitioning on every host. */
object SparkTestSession {
  lazy val spark: SparkSession =
    LocalSession.builder(4).appName("graft-test").getOrCreate()

  def readJson(schema: org.apache.spark.sql.types.StructType, rows: String*): DataFrame = {
    import spark.implicits._
    spark.read.schema(schema).json(rows.toDS)
  }
}
