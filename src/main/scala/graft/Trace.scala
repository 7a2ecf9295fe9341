package graft

/** Dev-only phase tracing for perf triage, gated on `GRAFT_TRACE` (same
  * switch the alt-star round trace uses) so production runs pay one env
  * lookup and nothing else: [[t]] wraps a named phase and prints its wall
  * time.
  */
object Trace {
  val enabled: Boolean = sys.env.contains("GRAFT_TRACE")

  def t[T](label: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally System.err.println(
        f"[trace] $label%-40s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
    }
}
