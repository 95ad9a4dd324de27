package graft

/** The frozen harness's host probes, reachable from the benchmark's own
  * package (`probeRate` is private to `graft`). */
object HostProbes {
  /** Memory-copy bandwidth at `threads` threads, GB/s. */
  def memBandwidthGbps(threads: Int): Double = ScalingBench.memProbe(threads, threads)._1

  /** All-threads arithmetic rate, Gops/s, after a discarded warm-up. */
  def cpuGops(threads: Int): Double = {
    ScalingBench.probeRate(threads, 20000000L)
    ScalingBench.probeRate(threads, 80000000L) / 1e9
  }
}
