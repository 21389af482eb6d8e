package graft

/** Fixture-vs-query time accounting for the bench sweep.
  *
  * The multi-batch streaming replays (delta-minhash, components,
  * boilerplate, k-means, sketch maintainers, growth/retention/…) spend
  * a large constant cost STAGING their fixture — writing the per-batch
  * source files and seeding the versioned stores — before any measured
  * maintenance work runs. Folding that into the query timing muddied
  * every round-over-round comparison (~50 s of the r7 406 s sweep was
  * staging). Query code wraps staging in [[fixture]]; [[Bench]] resets
  * the meter per query and stamps `fixture_s` separately in the JSON,
  * leaving the headline `queries` timings comparable across rounds.
  *
  * Reentrancy: nested [[fixture]] blocks count once (outermost wins),
  * so a staging helper calling another staging helper never
  * double-books. The accumulator is cross-thread (AtomicLong) because
  * Spark actions inside a staging block may complete on other threads,
  * but nesting depth is tracked per thread — staging is driver-side
  * sequential code in practice.
  */
object BenchMeters {
  private val nanos = new java.util.concurrent.atomic.AtomicLong(0L)
  private val depth = new ThreadLocal[Integer] { override def initialValue: Integer = 0 }

  def reset(): Unit = nanos.set(0L)

  /** Seconds of fixture staging accumulated since the last [[reset]]. */
  def fixtureSeconds: Double = nanos.get / 1e9

  /** Run `body`, booking its wall time as fixture staging (outermost
    * block only — nested calls run unmetered inside the outer one).
    */
  def fixture[T](body: => T): T = {
    if (depth.get > 0) body
    else {
      depth.set(1)
      val t0 = System.nanoTime()
      try body
      finally { depth.set(0); nanos.addAndGet(System.nanoTime() - t0) }
    }
  }
}
