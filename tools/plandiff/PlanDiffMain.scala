package graft

/** `graft.PlanDump`, then the regime decision every artifact key
  * recorded, one `key=value` line each in `<outDir>/decisions.txt`.
  * Compiled by tools/plandiff.sh against each tree it compares. */
object PlanDiffMain {
  def main(args: Array[String]): Unit = {
    PlanDump.main(args)
    import scala.jdk.CollectionConverters._
    val lines = graft.io.Regime.lastDecision.asScala.toSeq.sorted
      .map { case (k, v) => s"$k=$v\n" }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(args(1)).resolve("decisions.txt"), lines.mkString)
  }
}
