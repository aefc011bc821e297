package graft

import org.apache.spark.sql.SparkSession

/** The one builder for local sessions: `Run`, `Profile`, `PlanDump` and
  * the specs' shared session. The `Bench` and `Verify` harness mains keep
  * their own configs.
  *
  * `GraftExtensions` is the only install of the engine's rules (among
  * them `RewriteLongDotProduct`); appending that rule to
  * `extraOptimizations` as well would run it twice. */
object LocalSession {

  /** Core count from `SPARK_GRAFT_CPUS`, else the caller's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  /** The session conf on top of `local[cores]`. `mirrorBench` adds the
    * Bench settings that move per-query timings, so a dev-loop session
    * predicts what the bench measures. */
  def settings(cores: Int, mirrorBench: Boolean): Seq[(String, String)] = {
    val base = Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.ui.enabled" -> "false")
    if (!mirrorBench) base
    else base ++ Seq(
      "spark.local.dir" -> Bench.localDir,
      "spark.shuffle.compress" -> "false",
      "spark.shuffle.spill.compress" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.sql.ui.retainedExecutions" -> "15")
  }

  /** A builder carrying [[settings]]. With `mirrorBench` it also points
    * `java.io.tmpdir` at Bench's scratch dir, as Bench does; the JDK caches
    * that property at its first temp-file use, so build the session before
    * creating any temp file. */
  def builder(cores: Int, mirrorBench: Boolean = false): SparkSession.Builder = {
    if (mirrorBench) sys.props("java.io.tmpdir") = Bench.localDir.split(",").head
    settings(cores, mirrorBench).foldLeft(
        SparkSession.builder().master(s"local[$cores]")) {
      case (b, (k, v)) => b.config(k, v)
    }
  }
}
