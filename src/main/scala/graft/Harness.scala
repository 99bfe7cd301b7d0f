package graft

/** Record helpers shared by Bench and StreamBench. */
object Harness {

  /** Three-decimal number for a JSON record. Locale.ROOT: the
    * f-interpolator uses the JVM default locale, and a comma-decimal
    * locale would emit "0,123" — invalid JSON in every persisted record. */
  def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  @volatile private var sentinelSink = 0L

  /** Host-drift SENTINEL (r10 lesson): a fixed 400M-step xorshift64
    * loop on one core, timed at session start and end and RECORDED in
    * the artifact. The r10 det-trio "regression" took a worktree A/B
    * against the r8 binary to prove the host had slowed — this number
    * shows the same thing in one field: before chasing any cross-round
    * delta, divide by the sentinel ratio of the two runs. Warmup runs
    * the same compiled loop first so JIT state is not part of the
    * measurement; the fold into a shared field defeats dead-code
    * elimination. */
  def sentinel(): Double = {
    def loop(n: Long): Long = {
      var s = 88172645463325252L
      var i = 0L
      while (i < n) {
        s ^= s << 13; s ^= s >>> 7; s ^= s << 17
        i += 1
      }
      s
    }
    sentinelSink ^= loop(50000000L)
    val t0 = System.nanoTime()
    sentinelSink ^= loop(400000000L)
    (System.nanoTime() - t0) / 1e9
  }
}
