package graft.perfbench

/** Read access to the engine's artifact cache for the benchmark: the
  * entry count is package-private to `graft`. */
object Artifacts {
  def clear(): Unit = graft.io.ArtifactCache.clear()
  def size: Int = graft.io.ArtifactCache.size
}
