package graft

/** Runs a spec body under a planted `graft.regime.collectMaxRows` row
  * bound — a bound below the fixture's artifact size forces the
  * distributed regime, as if the corpus had grown past the default —
  * and restores whatever was set before. */
object RegimeBound {
  def withBound[T](n: Int)(body: => T): T = {
    val key = "graft.regime.collectMaxRows"
    val prev = sys.props.get(key)
    sys.props(key) = n.toString
    try body
    finally prev match {
      case Some(v) => sys.props(key) = v
      case None => sys.props.remove(key)
    }
  }
}
